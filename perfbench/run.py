#!/usr/bin/env python3
"""Serving benchmark for the graft engine.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the harness from source
with sbt on first use (or when a source changed), then runs one workload in
a fresh JVM and prints one line per metric followed by a JSON record as the
last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/README.md). Each run starts from an empty run directory
under perfbench/.work/; its result, raw samples and request log are kept
under perfbench/.work/results/. Exits 1 when any answer was wrong, 2 when
the build or the run failed.

Extra flags: --short 1 (tiny inputs, for the self-test), --perturb 1 (shift
one expected answer so the correctness gate must trip).
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

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ["read_mix", "write_mix", "able_segment", "dedup_batch"]
BUILD_TIMEOUT_S, RUN_TIMEOUT_S = 600, 170

# Input sizes. Star schema scale factor (lineitem rows = 6M x sf) and the
# tables generated at that scale (the others get 10 rows); dedup corpus docs.
READ_SF, WRITE_SF, SHORT_SF = 0.01, 0.01, 0.001
DEDUP_DOCS, SHORT_DEDUP_DOCS = 5000, 500
PROBE_DOCS = 1000  # corpus of the dedup-stage probe in read_mix's traced run
READ_TABLES = {"lineitem", "orders", "documents", "customer", "part", "events"}
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: the engine's and the harness's."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the engine's sources are not here; run from the repository root")
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"],
                               cwd=HARNESS, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s; log in {log_path}")
    with open(log_path) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {r.returncode}); log in {log_path}")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def heap():
    """JVM heap, pinned the way the repository's test runs pin it: half
    the machine's memory, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def make_inputs(args, inputs):
    """Generate the workload's inputs and expected answers from the seed."""
    os.makedirs(inputs)
    data = os.path.join(inputs, "data")
    expected = {}
    if args.workload == "read_mix":
        gen.star(data, SHORT_SF if args.short else READ_SF, args.seed, READ_TABLES)
        expected = gen.read_mix_expected(data)
        if args.trace:
            docs = SHORT_DEDUP_DOCS if args.short else PROBE_DOCS
            pairs = gen.corpus(os.path.join(inputs, "corpus.parquet"), docs, args.seed)
            expected.update(docs=docs, pairs=pairs)
    elif args.workload == "write_mix":
        gen.star(data, SHORT_SF if args.short else WRITE_SF, args.seed, {"events"})
        expected = {"events": gen.events_rows(data)}
    elif args.workload == "able_segment":
        gen.star(data, 0, args.seed, set())
    else:
        docs = SHORT_DEDUP_DOCS if args.short else DEDUP_DOCS
        pairs = gen.corpus(os.path.join(inputs, "corpus.parquet"), docs, args.seed)
        expected = {"docs": docs, "pairs": pairs}
    gen.write_json(os.path.join(inputs, "expected.json"), expected)


def run_jvm(cp, args, run_dir):
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # no hsperfdata file in the system temp dir: the run writes only its own dir
    cmd += [f"-Xmx{heap()}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir, "--inputs", os.path.join(run_dir, "inputs"), "--short", str(args.short), "--perturb", str(args.perturb),
            "--cores", str(cores())]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    return code, log_path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--short", type=int, choices=[0, 1], default=0)
    ap.add_argument("--perturb", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}{'-short' if args.short else ''}" \
          f"{'-perturb' if args.perturb else ''}"
    run_dir = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.time()
    make_inputs(args, os.path.join(run_dir, "inputs"))
    t_inputs = time.time() - t0
    code, log_path = run_jvm(cp, args, run_dir)
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.isfile(result_path):
        with open(log_path) as f:
            tail = f.read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail("run timed out" if code is None else f"run failed (exit {code}); log in {log_path}")
    with open(result_path) as f:
        res = json.load(f)

    # keep the raw record beside the summary, drop the bulky run state
    keep = os.path.join(WORK, "results", tag)
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for name in ("result.json", "samples.jsonl", "requests.txt", "jvm.log"):
        shutil.copy(os.path.join(run_dir, name), keep)
    shutil.rmtree(run_dir, ignore_errors=True)

    for name, m in res["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    att, bad = res["attempted"], res["failed"]
    print(f"failed_ratio {bad / max(1, att):.6g} ratio ({bad} of {att})")
    for k, v in res["notes"].items():
        print(f"# {k} = {v}")
    for e in res["errors"][:10]:
        print(f"# wrong: {e}")
    print(f"# wall {time.time() - t0:.1f} s (inputs {t_inputs:.1f} s), record in {keep}")
    print(json.dumps({"correct": res["correct"], "attempted": att, "failed": bad,
                      "metrics": res["metrics"]}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
