#!/usr/bin/env python3
"""Run one workload of the weather pipeline benchmark.

    python3 wxbench/run.py --workload daily_increment --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The library and the benchmark are built
with sbt (offline) before the run whenever their sources differ from the
ones the last build was made from, so a run never measures stale classes;
the hash of the sources it ran is in the context line. Everything the run
writes stays under wxbench/target. The last line of standard output is
the result object; the exit code is non-zero when the build failed, an
output check failed or the run did not finish in time.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
# hash of the sources launch.txt was built from
BUILT_FROM = os.path.join(TARGET, "built-from.txt")
WORKLOADS = ("daily_increment", "backfill")
# A fixed heap. The full GC before each timed call would otherwise shrink
# it to about 300 MiB, and every call would grow it back; in some runs all
# calls were then up to twice as slow while set-up ran at normal speed.
HEAP = ["-Xms2g", "-Xmx2g"]
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170


def source_files():
    """Every file that goes into the build: both builds' definitions and
    sources, without their outputs."""
    for base in (ROOT, HERE):
        if os.path.isfile(os.path.join(base, "build.sbt")):
            yield os.path.join(base, "build.sbt")
        project = os.path.join(base, "project")
        for f in sorted(os.listdir(project) if os.path.isdir(project) else []):
            if os.path.isfile(os.path.join(project, f)):
                yield os.path.join(project, f)
        for d, dirs, files in os.walk(os.path.join(base, "src")):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def source_hash():
    h = hashlib.sha256()
    for path in source_files():
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
            stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        print(f"[wxbench] build failed: {e}", file=sys.stderr)
        return False
    return r.returncode == 0 and os.path.exists(LAUNCH)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    sources = source_hash()
    built = None
    if os.path.exists(BUILT_FROM) and os.path.exists(LAUNCH):
        with open(BUILT_FROM) as f:
            built = f.read().strip()
    if built != sources:
        # the stamp is written only once the build has succeeded
        if os.path.exists(BUILT_FROM):
            os.remove(BUILT_FROM)
        if not build():
            return 2
        with open(BUILT_FROM, "w") as f:
            f.write(sources + "\n")
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], lines[1:]

    work = os.path.join(TARGET, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # shuffle files stay in the checkout too: the library's local-dir
    # policy honours SPARK_LOCAL_DIRS when told to
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_GRAFT_LOCAL_DIR_POLICY="env")
    cmd = (["java"] + jvm_opts + HEAP + [f"-Djava.io.tmpdir={tmp}", "-cp",
           classpath, "wxbench.Main", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work])
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        print(f"[wxbench] run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in out.splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "context" in obj:
            obj["context"]["source_sha256"] = sources
            print(json.dumps(obj))
        elif isinstance(obj, dict) and "metrics" in obj:
            result = line
    if result is None:
        print(f"[wxbench] no result (exit code {p.returncode})", file=sys.stderr)
        return p.returncode or 4
    print(result)
    return p.returncode


if __name__ == "__main__":
    sys.exit(main())
