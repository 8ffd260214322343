#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from source with sbt when the sources
changed since the last build (the first run in a checkout pays for it),
builds the query tables once, then starts the harness JVM for one run. The
harness prints a stamp line and, last, one JSON result line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

Everything generated stays under perfbench/.work and the sbt target
directories. Exits non-zero, printing no result, when the engine sources
are missing or the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("etl_deliveries", "queries_light_sf01")
HEAP = "4g"
RUN_TIMEOUT_S = 170


def fail(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """sbt-compile the engine and harness unless the sources are unchanged."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "build.stamp")
    launcher = os.path.join(WORK, "launcher.txt")
    if os.path.exists(launcher) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return launcher
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(launcher):
        fail("build failed", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return launcher


def java(launcher, args, timeout):
    with open(launcher) as fh:
        lines = [x for x in fh.read().splitlines() if x]
    jvm_opts, classpath = lines[:-1], lines[-1]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + jvm_opts + ["-cp", classpath, "perfbench.Main"] + args
           + ["--work", WORK, "--bench", HERE])
    p = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"{args[0]} timed out after {timeout} s", 4)
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}", 2)
    os.makedirs(WORK, exist_ok=True)
    launcher = build()
    if a.workload != "etl_deliveries" and not os.path.exists(
            os.path.join(WORK, "data", "sf01x10", "_SF1_READY")):
        code, out = java(launcher, ["prep"], 600)
        if code != 0:
            fail("building the query tables failed", 5)
    code, out = java(launcher, ["run", "--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", a.trace],
                     RUN_TIMEOUT_S)
    lines = [x for x in out.splitlines() if x.strip()]
    if code != 0 or not lines:
        sys.stdout.write(out)
        fail(f"run exited with {code}", code or 6)
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail("malformed result line", 7)
    for x in lines[:-1]:
        print(x)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
