#!/usr/bin/env python3
"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py

Runs every workload in short mode (tiny inputs, 2-second phases) and checks
that
  * an untraced run reports every end-to-end metric of BENCHMARK.json and a
    traced run every per-layer metric, each with its unit, and the record is
    the last line of standard output;
  * two runs with the same seed send the same request sequence;
  * the correctness gate trips (non-zero exit, "correct": false) when an
    expected answer is deliberately perturbed.
Takes about ten minutes on 4 cores; exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, ".work", "results")
WORKLOADS = ["read_mix", "write_mix", "able_segment", "dedup_batch"]
SEED = 5


def run(workload, trace, perturb=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "2", "--trace", str(trace),
           "--short", "1", "--perturb", str(perturb)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    record = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    tag = f"{workload}-s{SEED}-t{trace}-short{'-perturb' if perturb else ''}"
    requests_path = os.path.join(RESULTS, tag, "requests.txt")
    requests = open(requests_path).read().splitlines() if os.path.isfile(requests_path) else []
    return p.returncode, record, requests, p.stderr


def per_client(lines):
    out = {}
    for line in lines:
        client, _, rest = line.partition(" ")
        out.setdefault(client, []).append(rest)
    return out


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in WORKLOADS:
        seqs = []
        for trace in (0, 1):
            code, rec, reqs, err = run(w, trace)
            check(code == 0 and rec is not None and rec["correct"],
                  f"{w} trace={trace}: runs and answers correctly {err[-300:] if code else ''}")
            got = {k: v["unit"] for k, v in rec["metrics"].items()}
            check(got == wanted[trace], f"{w} trace={trace}: every metric present with its unit")
            check(rec["attempted"] >= 1 and rec["failed"] == 0,
                  f"{w} trace={trace}: attempted {rec['attempted']}, failed {rec['failed']}")
            seqs.append(per_client(reqs))
        a, b = seqs
        same = bool(a) and a.keys() == b.keys() and all(
            len(a[c]) > 0 and a[c][:len(b[c])] == b[c][:len(a[c])] for c in a)
        check(same, f"{w}: the same seed sends the same request sequence")
        code, rec, _, _ = run(w, 0, perturb=1)
        check(code != 0 and rec is not None and not rec["correct"] and rec["failed"] > 0,
              f"{w}: the gate trips on a perturbed expected answer")
    print("selftest passed")


if __name__ == "__main__":
    main()
