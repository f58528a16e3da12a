#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload <sync_churn|dml_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of the checkout. The first run builds the library and the
benchmark with sbt (offline) and records the JVM classpath; later runs reuse
it while the sources are unchanged. The benchmark's last stdout line is its
result object; build output goes to stderr.
"""
import hashlib
import os
import pathlib
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
LAUNCH = TARGET / "launch.txt"
STAMP = TARGET / "launch.stamp"
HEAP = "-Xmx3g"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840


def source_files():
    """Every file the build reads: both build definitions and all sources."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(want):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "writeLaunch"]
    done = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if done.returncode != 0 or not LAUNCH.is_file():
        sys.exit(f"perfbench: build failed (exit {done.returncode})")
    STAMP.write_text(want)


def main():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit(f"perfbench: no library sources at {ROOT}; run from a full checkout")
    want = stamp()
    if not (LAUNCH.is_file() and STAMP.is_file() and STAMP.read_text() == want):
        build(want)
    opts, cp = [], []
    for line in LAUNCH.read_text().splitlines():
        kind, _, value = line.partition(" ")
        (opts if kind == "opt" else cp).append(value)
    tmp = BENCH / "work" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", HEAP, f"-Djava.io.tmpdir={tmp}"] + opts +
           ["-cp", os.pathsep.join(cp), "perfbench.Main"] + sys.argv[1:] +
           ["--dir", str(BENCH / "work"), "--data", str(BENCH / "data" / "tpch-sf0.01")])
    child = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        code = child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        child.kill()
        child.wait()
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    except KeyboardInterrupt:
        child.kill()
        child.wait()
        raise
    sys.exit(code)


if __name__ == "__main__":
    main()
