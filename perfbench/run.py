#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload nhl_daily --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source (once per source state,
outputs under .bench_build/), generates the workload's inputs from the
seed, runs the harness JVM, checks the outputs, and prints one JSON object
as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (BENCHMARK.json lists both). Exits non-zero on a wrong
result or when the checkout does not hold the program's sources.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
START = time.monotonic()
DEADLINE_S = 170.0       # the harness JVM is stopped after this long
BUILD_TIMEOUT_S = 840.0
HEAP = "3g"

sys.dont_write_bytecode = True  # nothing written next to the sources
sys.path.insert(0, HERE)
import gen      # noqa: E402
import oracle   # noqa: E402
import workloads  # noqa: E402


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build and the input pools derive from, in a stable
    order: the program's build and sources, and all of the benchmark."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), HERE):
        found = []
        for d, ds, fs in os.walk(top):
            # not what sbt and Python leave behind (target/, project/project/, ...)
            ds[:] = [] if os.path.basename(d) == "project" else \
                [x for x in ds if x not in ("__pycache__", "target")]
            found += [os.path.join(d, f) for f in fs if not f.endswith(".md")]
        files += sorted(found)
    return files


def run_group(cmd, cwd, timeout, env=None, stdout=None, stderr=None):
    """Run `cmd` in its own process group; kill the whole group on timeout
    or when this process is terminated, and wait for it, so nothing started
    here outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)

    def stop(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()

    def terminated(*_):
        stop()
        sys.exit(143)

    old = signal.signal(signal.SIGTERM, terminated)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        stop()
        return None
    finally:
        signal.signal(signal.SIGTERM, old)


def build():
    """Compile program + harness with sbt unless the sources are unchanged."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not in this checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    shutil.rmtree(os.path.join(BUILD, "pool"), ignore_errors=True)  # made by the old build
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true "
                        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                        " -Dsbt.offline=true -Xmx2g")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       HERE, BUILD_TIMEOUT_S, env=env, stdout=log, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.isfile(cp_file):
        fail(f"build failed (see {os.path.join(BUILD, 'build.log')})", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(cp, args, work):
    """Run the JVM (`args`: main class and its arguments) with `work` as its
    working and temp directory; return its exit code (None on timeout)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size: G1 does not resize it, so the resident set the run
    # reaches depends on the work, not on when the heap happened to grow
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        return run_group(cmd, work, DEADLINE_S - (time.monotonic() - START),
                         stdout=log, stderr=subprocess.STDOUT)


def jvm_failed(work, what):
    with open(os.path.join(work, "jvm.log")) as fh:
        sys.stderr.write("".join(fh.readlines()[-30:]))
    fail(what, 4)


def pool(cp, spec, name):
    """Inputs a workload derives every run's inputs from, made once per
    build (before the run's clock starts) under .bench_build/pool/."""
    done = os.path.join(BUILD, "pool", name, "done")
    if spec.pool is None or os.path.isfile(done):
        return os.path.dirname(done)
    d = os.path.dirname(done)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)

    def run(args):
        rc = run_jvm(cp, args, d)
        if rc != 0:
            jvm_failed(d, f"input pool JVM {'timed out' if rc is None else f'exited {rc}'}")
    spec.pool(d, run)
    open(done, "w").close()
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    spec = workloads.WORKLOADS[a.workload]
    pool_dir = pool(cp, spec, a.workload)
    global START
    START = time.monotonic()  # DEADLINE_S counts from here, after any build

    # one work directory per workload; the last failed run's stays for
    # inspection (jvm.log, spans.jsonl, inputs)
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec.generate(os.path.join(work, "in"), a.seed, pool_dir)
    rc = run_jvm(cp, ["perfbench.Main", "--work", work, "--workload", a.workload,
                      "--seed", str(a.seed), "--seconds", str(a.seconds),
                      "--trace", str(a.trace)], work)
    result = os.path.join(work, "jvm_result.json")
    if rc != 0 or not os.path.isfile(result):
        jvm_failed(work, f"harness JVM {'timed out' if rc is None else f'exited {rc}'}")
    with open(result) as fh:
        r = json.load(fh)
    failures = list(r["failures"])
    if spec.oracle_tables:
        failures += oracle.compare(os.path.join(work, "in", spec.oracle_tables),
                                   os.path.join(work, "results"))
    print("perfbench: phases " + " ".join(f"{k}={v:.2f}" for k, v in r["phases"].items()),
          file=sys.stderr)

    attempted = len(r["ops"])
    failed = sum(1 for o in r["ops"] if not o["ok"])
    for f in failures:
        print(f"perfbench: FAIL {f}", file=sys.stderr)
    if a.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
        metrics = {k: {"value": r["layer"][k], "unit": u} for k, u in units.items()}
    else:
        walls = [p["wall_s"] for p in r["passes"] if not p["traced"]]
        metrics = {
            "setup_s": {"value": r["setup_s"], "unit": "s"},
            "wall_s": {"value": statistics.median(walls), "unit": "s"},
            "peak_rss_mb": {"value": r["peak_rss_mb"], "unit": "MB"},
        }
    correct = failed == 0 and not failures
    if correct:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
