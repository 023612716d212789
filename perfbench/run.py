#!/usr/bin/env python3
"""Run one benchmark workload, or all of them.

    python3 perfbench/run.py --workload daily_dag --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all [--seed 1]

Run from the root of the repository. The first run builds the program and
the benchmark with sbt (offline) and caches the classpath under
perfbench/.build, keyed by a hash of the sources; later runs start the JVM
on it directly.

A run prints, as its last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`, and exits non-zero when a check fails.
`--all` runs every workload untraced and traced, prints every metric by name
and unit and the tracing overhead, and exits non-zero if any run fails.
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
BUILD = os.path.join(HERE, ".build")
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"

# Spark on JDK 17 outside spark-submit needs these, as in the program's build.
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
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build reads from the repository."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Build with sbt if the sources changed; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"the program's sources are not next to the benchmark ({ROOT})")
    cached = os.path.join(BUILD, f"classpath-{source_hash()}.txt")
    if os.path.isfile(cached):
        with open(cached) as fh:
            cp = fh.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("[perfbench] building the program and the benchmark with sbt", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=540)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    with open(cached, "w") as fh:
        fh.write(cp + "\n")
    return cp


def run_one(cp, workload, seed, seconds, trace):
    """Run one workload in its own JVM; return (exit code, result or None)."""
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # JVM log lines go to stderr, so the result stays the last line of stdout
    cmd = (["java", HEAP, "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", work, "--out", os.path.join(HERE, "out")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        print(f"[perfbench] {workload} exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1, None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return proc.returncode, result


def run_all(cp, seed):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    ok = True
    for w in bench["workloads"]:
        name = w["name"]
        code0, plain = run_one(cp, name, seed, seconds, 0)
        code1, traced = run_one(cp, name, seed, seconds, 1)
        print(f"\n== {name}: {w['why']}")
        for label, code, res in (("untraced", code0, plain), ("traced", code1, traced)):
            if code != 0 or res is None or not res["correct"]:
                ok = False
                print(f"  {label} run FAILED (exit {code})")
            if res is None:
                continue
            print(f"  {label}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}")
            for k, m in res["metrics"].items():
                print(f"    {k:28s} {m['value']:>16.6g} {m['unit']}")
        if plain and traced:
            base = plain["metrics"]["op_p50_s"]["value"]
            with_trace = traced["metrics"]["trace.op_p50_s"]["value"]
            print(f"    {'tracing_overhead':28s} {with_trace / base - 1:>16.4%} "
                  "of op_p50_s")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("give --workload or --all")
    cp = build()
    if a.all:
        sys.exit(run_all(cp, a.seed))
    code, result = run_one(cp, a.workload, a.seed, a.seconds, a.trace)
    if result is None:
        sys.exit(code or 1)
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()
