#!/usr/bin/env python3
"""KG-lifecycle benchmark for graft.

Run from the root of a checkout:

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Builds the benchmark together with the checkout's graft sources (sbt, once
per source change, into .bench_build/), runs one workload in a fresh JVM
against a run directory under .bench_build/ that is deleted at exit, and
prints context lines followed by one JSON result line. `--trace 1` runs the
same workload with the span listener and prints the per-layer metrics
instead; the spans go to .bench_build/spans/. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("query", "ingest")
BUILD_TIMEOUT_S = 840
# the JVM stops starting ops at 140 s; this is the hard stop behind it
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Hash buckets per bucketed table. The engine default (64) is sized for
# corpus-scale stores; the benchmark's stores hold a few thousand edges,
# where 64 buckets of a few rows each made every commit ~2.5x slower
# (bulk 30 s vs 12 s on a 4-vCPU host) and left no time budget for the ops.
BUCKETS = "8"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles graft + the benchmark; returns the runtime classpath."""
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = fingerprint(source_files())
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("perfbench: building (sbt compile)")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log("\n".join(lines[-40:]))
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_jvm(cp, args, run_dir, spans_file, log_file):
    cmd = [java_bin()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dgraft.buckets=" + BUCKETS,
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--dir", run_dir, "--spans", spans_file,
    ]
    with open(log_file, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("perfbench: run exceeded %d s, killed" % RUN_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    return proc.returncode, out


def parse_result(out):
    context, result = [], None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.strip():
            context.append(line)
    return context, result


def main():
    ap = argparse.ArgumentParser(description="graft KG-lifecycle benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no graft sources at %s/src/main/scala/graft" % ROOT)
    for d in ("spans", "results", "logs"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    cp = build()

    name = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    run_dir = os.path.join(OUT, "run-%d" % os.getpid())
    os.makedirs(os.path.join(run_dir, "tmp"))
    spans_file = os.path.join(OUT, "spans", name + ".jsonl")
    log_file = os.path.join(OUT, "logs", name + ".log")
    t0 = time.time()
    try:
        code, out = run_jvm(cp, args, run_dir, spans_file, log_file)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    context, result = parse_result(out)
    if code != 0 or result is None:
        with open(log_file) as f:
            log("".join(f.readlines()[-40:]))
        raise SystemExit("perfbench: run failed (exit %d)" % code)
    context.append("run_wall_s: %.1f" % (time.time() - t0))

    with open(os.path.join(OUT, "results", name + ".json"), "w") as f:
        json.dump({"context": context, "result": result}, f, indent=1)
    if args.trace == 1:
        context += overhead_lines(args, result)
    for line in context:
        print(line)
    print(json.dumps(result), flush=True)


# traced span → untraced end-to-end median of the same op
OVERHEAD_PAIRS = [
    ("facade.search.wall_s", "search_p50_s"),
    ("facade.search_full.wall_s", "search_full_p50_s"),
    ("facade.node_lookup.wall_s", "node_lookup_p50_s"),
    ("facade.edge_lookup.wall_s", "edge_lookup_p50_s"),
    ("facade.ingest.wall_s", "ingest_p50_s"),
    ("facade.mutate.wall_s", "mutate_p50_s"),
]


def overhead_lines(args, traced):
    """Tracing overhead against the untraced run of the same workload and
    seed, when one was made in this checkout."""
    path = os.path.join(OUT, "results", "%s-seed%d-trace0.json" % (args.workload, args.seed))
    if not os.path.exists(path):
        return ["trace_overhead: no untraced run of this workload and seed to compare"]
    with open(path) as f:
        plain = json.load(f)["result"]["metrics"]
    lines = []
    for span, metric in OVERHEAD_PAIRS:
        a, b = traced["metrics"].get(span), plain.get(metric)
        if a and b and b["value"] > 0:
            lines.append("trace_overhead %s: %.4f s traced vs %.4f s untraced (%+.1f%%)"
                         % (metric, a["value"], b["value"], 100.0 * (a["value"] / b["value"] - 1)))
    return lines


if __name__ == "__main__":
    main()
