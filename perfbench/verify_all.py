#!/usr/bin/env python3
"""Full correctness check: all registry keys on one seeded corpus.

    python3 perfbench/verify_all.py --seed 7 [--size full|bench]

Runs graft.Verify on the seeded corpus (no timing) and compares every
registry key's output with its declared DuckDB oracle through
tools/oracle_check.py. `full` is
the sf0.1 test corpus's size, `bench` the benchmark's own. Takes
several minutes; the timed workloads check only the keys they run.
Exits non-zero when any key fails, and names the failures already known
(perfbench/workloads.json, "known_defects").
"""
import argparse
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", choices=("full", "bench"), default="full")
    args = ap.parse_args()
    cp = run.ensure_built()
    sizes = run.corpus.FULL if args.size == "full" else run.corpus.SIZES
    corpus_dir = run.corpus.ensure(args.seed, os.path.join(run.BUILD, "corpus"), sizes)
    rundir = os.path.join(run.BUILD, "runs", f"verify-all-{args.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    dump = os.path.join(rundir, "dump")
    os.makedirs(os.path.join(rundir, "tmp"))
    try:
        run.run_java(run.java_cmd(cp, os.path.join(rundir, "tmp"), heap="6g")
                     + ["graft.Verify", corpus_dir, dump], rundir, timeout=1800)
        failing, checked = run.check_registry(dump, corpus_dir, timeout=900)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    known = run.load_workloads().get("known_defects", {})
    print(f"{checked - len(failing)} of {checked} keys match their oracle "
          f"(seed {args.seed}, {args.size} corpus)")
    for k in sorted(failing):
        print(f"  FAIL {k}{'  (known defect: ' + known[k] + ')' if k in known else ''}")
    sys.exit(1 if failing else 0)


if __name__ == "__main__":
    main()
