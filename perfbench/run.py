#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --write-goldens

Builds the engine and the harness from source with sbt (offline) the
first time, or whenever a source file changed, and records the runtime
classpath under perfbench/.build/. Each run then starts one JVM on
local[nproc]. The last line of stdout is the run's JSON result; build
and engine logs go to stderr. Scratch files live under perfbench/.work/.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "stamp")
HEAP = "2g"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# What spark-submit would pass on JDK 17 (the root build.sbt lists the same).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def sources():
    """Every file the build reads, as (relative path, absolute path)."""
    out = []
    for rel in ("build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"):
        out.append((rel, os.path.join(ROOT, rel)))
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            for n in names:
                p = os.path.join(d, n)
                out.append((os.path.relpath(p, ROOT), p))
    return sorted(out)


def stamp():
    h = hashlib.sha256()
    for rel, path in sources():
        h.update(rel.encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    want = stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts.strip()
    print("[perfbench] building engine and harness with sbt", file=sys.stderr)
    subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, check=True)
    with open(STAMP, "w") as f:
        f.write(want + "\n")


def java_cmd(args):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return [java, *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--root", ROOT, "--work", WORK, *args]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-goldens", action="store_true")
    a = ap.parse_args()
    if not a.write_goldens and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")
    if not all(os.path.exists(os.path.join(ROOT, p))
               for p in ("build.sbt", "src/main/scala")):
        print("[perfbench] no engine sources next to perfbench/; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    build()
    if a.write_goldens:
        args = ["--write-goldens"]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    proc = subprocess.Popen(java_cmd(args), cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
        return 1
    if proc.returncode != 0:
        print(f"[perfbench] JVM exited with {proc.returncode}", file=sys.stderr)
        return 1
    if a.write_goldens:
        return 0
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        print("[perfbench] no result line from the JVM", file=sys.stderr)
        return 1
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
