#!/usr/bin/env python3
"""Self-test of the benchmark on the tiny generated corpus.

    python3 perfbench/selftest.py

Checks that every workload runs and prints every end-to-end metric by
name and unit, that a traced run prints every per-layer metric and that
its spans nest, that an injected throwing operation and an injected
wrong answer raise fail_frac, and that the command fails without a
result outside a repository checkout. Exits non-zero on the first
failed check.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def check(cond, what):
    print(f"  {'ok  ' if cond else 'FAIL'} {what}", flush=True)
    if not cond:
        sys.exit(1)


def bench(*extra):
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *extra],
                          cwd=ROOT, capture_output=True, text=True, timeout=900)
    return proc


def spans_nest(spans):
    for i, s in enumerate(spans):
        p = s["parent"]
        if p < 0:
            if s["name"] != "op":
                return f"root span {i} is {s['name']}, not op"
            continue
        q = spans[p]
        if p >= i or q["op"] != s["op"] or q["pass"] != s["pass"]:
            return f"span {i} ({s['name']}) has a foreign parent {p}"
        if not (q["start"] <= s["start"] <= s["end"] <= q["end"]):
            return f"span {i} ({s['name']}) lies outside its parent {p} ({q['name']})"
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    spec = run.bench_spec()
    workloads = run.load_workloads()["workloads"]
    common = ["--seed", str(args.seed), "--seconds", "1", "--tiny"]

    print("every workload runs and prints every end-to-end metric")
    for name in workloads:
        proc = bench("--workload", name, "--trace", "0", *common)
        check(proc.returncode == 0, f"{name}: exit 0 ({proc.stderr[-500:] if proc.returncode else ''})")
        last = json.loads(proc.stdout.strip().splitlines()[-1])
        check(set(last) == {"correct", "attempted", "failed", "metrics"}, f"{name}: result keys")
        check(last["correct"] and last["failed"] == 0 and last["attempted"] >= 1,
              f"{name}: outputs correct, {last['attempted']} attempted")
        for m in spec["end_to_end"]:
            got = last["metrics"].get(m["name"], {})
            check(got.get("unit") == m["unit"] and isinstance(got.get("value"), float),
                  f"{name}: {m['name']} in {m['unit']}")
        for metric, unit in run.END_TO_END:
            check(any(ln.split()[:1] == [metric] and unit in ln.split()
                      for ln in proc.stdout.splitlines()), f"{name}: report prints {metric} [{unit}]")

    print("a traced run prints every per-layer metric, and its spans nest")
    ns = argparse.Namespace(seed=args.seed, seconds=1, trace=1, keep=True, inject_fail=False)
    cp = run.ensure_built()
    corpus_dir = run.corpus.ensure(args.seed, os.path.join(run.BUILD, "corpus"), run.corpus.TINY)
    for name in workloads:
        r = run.run_workload(name, workloads[name], ns, cp, corpus_dir)
        rundir = os.path.join(run.BUILD, "runs", f"{name}-{args.seed}-{os.getpid()}")
        for m in spec["per_layer"]:
            check(m["name"] in r["per_layer"], f"{name}: {m['name']}")
        spans = [json.loads(ln) for ln in open(os.path.join(rundir, "out", "spans.jsonl"))]
        check(len(spans) > 0 and spans_nest(spans) is None,
              f"{name}: {len(spans)} spans nest ({spans_nest(spans)})")
        pl = r["per_layer"]
        if workloads[name].get("ingest"):
            check(pl["warm.store.write_amp"] > 0 and pl["warm.store.files"] > 0,
                  f"{name}: store write amplification and file count measured")
            check(pl["cold.core.DiskMemo.builds"] > 0, f"{name}: DiskMemo grid builds seen cold")
        else:
            check(pl["warm.core.Tables.files_listed"] == 0, f"{name}: no file listing when warm")
            check(pl["cold.core.DiskMemo.builds"] + pl["warm.core.DiskMemo.builds"] == 0,
                  f"{name}: no DiskMemo builds")
            check(pl["warm.store.write_amp"] == 0, f"{name}: no store writes")
        shutil.rmtree(rundir, ignore_errors=True)

    print("an injected failure raises fail_frac")
    few = {"run_keys": workloads["tsdb-query"]["run_keys"][:3]}
    r = run.run_workload("inject", few, argparse.Namespace(**{**vars(ns), "trace": 0, "keep": False,
                                                             "inject_fail": True}), cp, corpus_dir)
    check(r["end_to_end"]["fail_frac"] > 0 and not r["correct"], f"fail_frac {r['end_to_end']['fail_frac']:.3f}")
    check(few["run_keys"][0] in r["wrong_output_keys"],
          "a wrong oracle answer injected for one key is caught by the oracle check")
    check(r["threw"].get("selftest_throw", 0) > 0, "the throwing operation is counted")

    print("outside a checkout the command fails without a result")
    bare = os.path.join(run.BUILD, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__", "target"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "tsdb-query", "--seed", "1",
                           "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True,
                          text=True, timeout=180)
    check(proc.returncode != 0 and not proc.stdout.strip(), f"exit {proc.returncode}, no stdout")
    shutil.rmtree(bare, ignore_errors=True)
    print("self-test passed")


if __name__ == "__main__":
    main()
