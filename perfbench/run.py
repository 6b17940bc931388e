#!/usr/bin/env python3
"""EmoStream benchmark: one command per workload run.

    python3 perfbench/run.py --workload live_fanout --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source on first use (sbt,
offline), then runs one workload in a fresh JVM and prints the result
as the last line of stdout:

    {"correct": true, "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones and writes the run's spans to
perfbench/.work/spans-<workload>-<seed>.jsonl. The run's own work
directory (inputs, checkpoints) is removed when it ends. Exits
non-zero, without a result line, when the program's source is not next
to this directory, the build fails, the run fails or it overruns its
time limit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
JAVAOPTS = os.path.join(TARGET, "javaopts.txt")
WORKLOADS = ("live_fanout", "dashboard_reads", "corpus_tiers")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            yield top
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("the program's source (build.sbt, src/main/scala) is not next to perfbench/")
        sys.exit(2)
    if os.path.isfile(CLASSPATH) and os.path.isfile(JAVAOPTS):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in sources()):
            return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "")]).strip()
    log("building library + benchmark (sbt writeClasspath)")
    t = time.time()
    try:
        proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                              cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                              stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        log("build timed out")
        sys.exit(3)
    if proc.returncode != 0 or not (os.path.isfile(CLASSPATH) and os.path.isfile(JAVAOPTS)):
        log(f"build failed (exit {proc.returncode})")
        sys.exit(3)
    log(f"built in {time.time() - t:.1f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=int,
                    help="live_fanout offered events/s (default 100000), for rate ladders")
    args = ap.parse_args()

    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # the root build's options for forked runs, with this benchmark's heap
    with open(JAVAOPTS) as f:
        jvm = [o for o in f.read().splitlines() if o and not o.startswith("-Xmx")]
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    spans = os.path.join(HERE, ".work", f"spans-{args.workload}-{args.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + jvm
           + ["-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'conf', 'log4j2.properties')}",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
           + (["--spans", spans] if args.trace else [])
           + (["--rate", str(args.rate)] if args.rate else []))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    result = None
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_LIMIT_S} s")
        sys.exit(4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    for line in out.splitlines():
        line = line.strip()
        if line.startswith("{"):
            result = line
        elif line:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        log(f"run failed (exit {proc.returncode})")
        sys.exit(5)
    json.loads(result)
    print(result, flush=True)


if __name__ == "__main__":
    main()
