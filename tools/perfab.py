#!/usr/bin/env python3
"""Interleaved parent-vs-change A/B of a perfbench workload.

    python3 tools/perfab.py PARENT_CHECKOUT CHANGE_CHECKOUT --workload W \
        --seeds A-B [--trace 0|1] --out DIR

For every seed N in A..B (inclusive) runs
`python3 perfbench/run.py --workload W --seed N --seconds S --trace T`
in both checkouts, one after the other, with S the `run_seconds` of
this repo's BENCHMARK.json. Which side runs first alternates by seed
(the parent on even seeds, the change on odd ones), so a host that
drifts over the session weighs on both sides alike. Each run's artifact
(`.bench_build/results/W-seedN-traceT.json` in its checkout) is copied
into DIR/parent or DIR/change, and `tools/perfdiff.py` over those two
directories is printed at the end. An artifact left by an earlier
run under the same name is deleted before each run, so a run that
writes none copies none. A run that exits non-zero (an incorrect output
fails the run) keeps the artifact it wrote; the tool names it, and
every run that left no artifact, and exits 1.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import perfdiff  # noqa: E402


def seed_range(text):
    """'A-B' → [A, ..., B]; a single 'A' → [A]."""
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {text}")
    return list(range(lo, hi + 1))


def order(seed):
    """The sides in the order they run for `seed`."""
    return ("parent", "change") if seed % 2 == 0 else ("change", "parent")


def run_perfbench(checkout, workload, seed, seconds, trace):
    """Run perfbench in `checkout`; its exit code."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    return subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL).returncode


def ab(checkouts, workload, seeds, seconds, trace, out, runner=run_perfbench):
    """Run every (seed, side), copy the artifacts under `out`; the
    (seed, side) runs that exited non-zero."""
    failed = []
    for side in checkouts:
        os.makedirs(os.path.join(out, side), exist_ok=True)
    for seed in seeds:
        for side in order(seed):
            print(f"perfab: {workload} seed {seed} trace {trace}: {side}", file=sys.stderr,
                  flush=True)
            name = f"{workload}-seed{seed}-trace{trace}.json"
            src = os.path.join(checkouts[side], ".bench_build", "results", name)
            if os.path.exists(src):
                os.remove(src)
            if runner(checkouts[side], workload, seed, seconds, trace) != 0:
                failed.append((seed, side))
            if os.path.exists(src):
                shutil.copy(src, os.path.join(out, side, name))
            elif (seed, side) not in failed:
                failed.append((seed, side))
    return failed


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    checkouts = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    failed = ab(checkouts, args.workload, args.seeds, seconds, args.trace, args.out)
    perfdiff.main([os.path.join(args.out, "parent"), os.path.join(args.out, "change")])
    for seed, side in failed:
        print(f"perfab: seed {seed} {side} failed or left no artifact", file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
