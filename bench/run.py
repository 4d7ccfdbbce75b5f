#!/usr/bin/env python3
"""graft's benchmark. Run from the root of a checkout:

    python3 bench/run.py --workload batch-sf0.01 --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the library and the benchmark with sbt
(bench/build.sbt) and generates the query corpus with graft.tools.ScaleGen;
both are kept under .bench_build/ and reused while their sources are
unchanged. Each run then starts one JVM that sets up, measures for
--seconds, checks its outputs and prints one JSON line last. The JVM's full
record (every metric, the sample, failures, spans when traced) is appended
to .bench_build/results.jsonl; bench/diff.py compares two such files.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".bench_build")
WORKLOADS = {"batch-sf0.01": ("sf0.01", 0.01), "stream-restart": (None, None)}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest(tops, files):
    """Digest of the files under `tops` plus `files`."""
    h = hashlib.sha256()
    files = list(files)
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group and wait for it. The whole group is
    killed on timeout, and when this script is told to stop."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)
    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
    finally:
        for s, h in previous.items():
            signal.signal(s, h)
    return p.returncode, out, err


def build(digest):
    """Compile library and benchmark once per source digest; return the
    runtime classpath."""
    cp_file = os.path.join(WORK, f"classpath-{digest}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(WORK, exist_ok=True)
    code, out, _ = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "[error]" in out:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def java_cmd(classpath, *args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap, so that collector sizing decisions do not vary between
    # runs; memory is reported as what the program holds, not as resident set
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens,
             f"-Djava.io.tmpdir={os.path.join(WORK, 'run', 'tmp')}",
             "-cp", classpath, "graftbench.Main", *args])


def java_env(scale):
    env = dict(os.environ)
    # the persisted query stores belong to the corpus and are made with it
    env["SPARK_GRAFT_STORE_DIR"] = os.path.join(WORK, "stores", scale or "none")
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "run", "spark-local")
    return env


def fresh_run_dir():
    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))


def ensure_data(classpath, digest, scale, sf):
    """Generate the corpus for `scale`, and derive its query stores, unless
    this digest already did."""
    out = os.path.join(WORK, "data", scale)
    stamp = os.path.join(out, ".complete")
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "stores", scale), ignore_errors=True)
    fresh_run_dir()
    code, _, err = run_bounded(java_cmd(classpath, "data", out, str(sf)), BUILD_TIMEOUT_S,
                               env=java_env(scale), stdout=subprocess.DEVNULL,
                               stderr=subprocess.PIPE, text=True)
    if code != 0:
        sys.stderr.write(err[-4000:])
        fail(f"data generation for {scale} failed")
    with open(stamp, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (build.sbt and src/ not found)")

    library = ([os.path.join(ROOT, "src", "main")], [os.path.join(ROOT, "build.sbt")])
    classpath = build(sources_digest([*library[0], os.path.join(BENCH, "src", "main")],
                                     [*library[1], os.path.join(BENCH, "build.sbt")]))
    # every corpus is made on the first run in a checkout, whichever
    # workload it runs; a corpus depends on the library (ScaleGen) alone
    for data_scale, data_sf in WORKLOADS.values():
        if data_scale:
            ensure_data(classpath, sources_digest(*library), data_scale, data_sf)
    scale = WORKLOADS[a.workload][0]

    fresh_run_dir()
    started = time.time()
    code, out, err = run_bounded(
        java_cmd(classpath, "run", "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--bench", BENCH, "--work", WORK),
        RUN_TIMEOUT_S, env=java_env(scale), stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(err[-6000:])
        fail(f"benchmark JVM exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    record_file = os.path.join(WORK, "run",
                               f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(record_file) as fh:
        record = json.load(fh)
    record["process_wall_s"] = time.time() - started
    with open(os.path.join(WORK, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    for f in record.get("detail", {}).get("failures", []):
        print(f"bench: FAILED {f}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
