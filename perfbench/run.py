#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload futures_eod --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt on first use
(offline, the repository's Tier-1 sbt settings), then runs the workload in
a fresh JVM. Everything a run writes stays under perfbench/.work.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("futures_eod", "tick_bars", "corpus_dedup")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "2g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file whose change needs a rebuild: both builds and all sources."""
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files]
    return sorted(p for p in paths if os.path.isfile(p))


def ensure_built():
    """Build once per source state; return (classpath, jvm options)."""
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(HERE, "target", "launch.key")
    if not (os.path.exists(launch) and os.path.exists(stamp)
            and open(stamp).read().strip() == key):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.isfile(repos) else ""))
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"]
        try:
            r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                               stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
        if r.returncode != 0 or not os.path.exists(launch):
            fail(f"build failed (sbt exit {r.returncode})")
        with open(stamp, "w") as f:
            f.write(key + "\n")
    lines = [l for l in open(launch).read().split("\n") if l]
    return lines[0], lines[1:]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    # The benchmark measures the program in the parent directory; without
    # its sources there is nothing to build or run.
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no program sources at {ROOT}")

    cp, jvm_opts = ensure_built()

    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.txt")
    log = os.path.join(work, "jvm.log")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Duser.timezone=UTC"]
           + jvm_opts
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--result", result])
    try:
        with open(log, "w") as lf:
            r = subprocess.run(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=RUN_TIMEOUT_S)
        code = r.returncode
    except subprocess.TimeoutExpired:
        code = "timeout"
    if code != 0 or not os.path.exists(result):
        with open(log, errors="replace") as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail(f"run failed ({code}); log kept at {log}")

    info, line = open(result).read().strip().split("\n")
    if a.trace == "1":
        dest = os.path.join(base, f"trace-{a.workload}-s{a.seed}.json")
        shutil.copyfile(os.path.join(work, "trace.json"), dest)
        print(f"# trace: {os.path.relpath(dest, ROOT)}")
    shutil.rmtree(work, ignore_errors=True)
    print(f"# {a.workload} seed={a.seed} {info}")
    print(line)


if __name__ == "__main__":
    main()
