#!/usr/bin/env python3
"""The repository benchmark: one command, seeded workloads, checked outputs.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. On first use it builds the harness
(perfbench/harness, an sbt project that compiles the engine's sources
with the harness) into .bench_build/, and the seeded corpus into
.bench_build/corpus/. Neither is timed.

One run of a workload: a fresh JVM with its own java.io.tmpdir and
Spark local directory under .bench_build/runs/ builds the session, runs
one cold pass over the workload's operations in the fresh session, then
a fixed number of warm passes in that session (--seconds / 3, at least
three). The outputs of every operation are then checked, untimed:
registry keys against their DuckDB oracle (graft.Verify's dump,
tools/oracle_check.py), the tsdb-ingest store against a DuckDB
latest-by-key fold over the generated base and batches.

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of each pass kind, measured
from spans and counters around each call into the engine. A readable
report of every metric, the correctness result and the host covariates
(CPU-steal jiffies, load average) precedes it.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)

import corpus  # noqa: E402

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
END_TO_END = [
    ("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"), ("cold_pass_cpu_s", "s"),
    ("warm_pass_cpu_s", "s"), ("op_p50_ms", "ms"), ("op_cpu_p50_ms", "ms"),
    ("peak_rss_mb", "MB"), ("artifact_mb", "MB"), ("fail_frac", "ratio"),
]
RUN_TIMEOUT_S = 170
CPUS = 4  # local[4]: the cores of the box the baselines were measured on
WARM_PASS_SECONDS = 3  # --seconds / this = warm passes per run (at least three)
HEAP = "3g"


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- build ---------------------------------------------------------------

def _fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_built():
    """Classpath of the compiled harness, building it when sources changed."""
    stamp = os.path.join(BUILD, "classpath.json")
    fp = _fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("fingerprint") == fp:
            return got["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    if not env.get("SPARK_HOME"):
        spark_submit = shutil.which("spark-submit")
        if not spark_submit:
            raise BenchError("SPARK_HOME is unset and spark-submit is not on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(spark_submit)))
    log("building the harness (sbt compile)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=800)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        raise BenchError(f"harness build failed (exit {proc.returncode}); see .bench_build/build.log")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ---- host covariates -------------------------------------------------------

def steal_jiffies():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def loadavg1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def tree_bytes(root):
    total = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


# ---- one run ---------------------------------------------------------------

def java_cmd(cp, tmp, heap=HEAP):
    # -XX:-UsePerfData: the JVM writes no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def run_java(cmd, rundir, timeout):
    """Runs a JVM in rundir with its own Spark local directory; its output
    goes to rundir/harness.log."""
    local = os.path.join(rundir, "spark-local")
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(os.path.join(rundir, "harness.log"), "w") as errf:
        proc = subprocess.Popen(cmd, cwd=rundir, env=env, stdout=errf, stderr=errf)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("harness timed out")
    if rc != 0:
        with open(os.path.join(rundir, "harness.log")) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"harness exited {rc}:\n{tail}")


def warm_passes(seconds, trace):
    n = max(3, int(seconds // WARM_PASS_SECONDS))
    return max(4, n + n % 2) if trace else n


def run_harness(cp, wl, args, corpus_dir, rundir, timeout=RUN_TIMEOUT_S - 30):
    tmp = os.path.join(rundir, "tmp")
    out = os.path.join(rundir, "out")
    for d in (tmp, out):
        os.makedirs(d, exist_ok=True)
    cmd = java_cmd(cp, tmp) + [
        "perfbench.Harness", f"corpus={corpus_dir}", f"out={out}", f"seed={args.seed}",
        f"trace={args.trace}", f"cpus={CPUS}", f"warm={warm_passes(args.seconds, args.trace)}",
        "keys=" + ",".join(wl.get("run_keys", [])), f"ingest={1 if wl.get('ingest') else 0}",
        f"inject_fail={1 if args.inject_fail else 0}"]
    run_java(cmd, rundir, timeout)
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), out, tmp


def inject_wrong_oracle(dump, key):
    """Replaces key's oracle SQL with a wrong one (self-test)."""
    path = os.path.join(dump, "oracle_sql.json")
    with open(path) as f:
        oracle = json.load(f)
    oracle[key] = "SELECT 42 AS selftest_wrong"
    with open(path, "w") as f:
        json.dump(oracle, f)


def check_registry(dump, corpus_dir, timeout=120):
    """Failing keys per tools/oracle_check.py, which is run unchanged."""
    with open(os.path.join(dump, "declared.json")) as f:
        declared = json.load(f)
    if not declared:
        return set(), 0
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
                           dump, corpus_dir], capture_output=True, text=True, timeout=timeout)
    failing = set(re.findall(r"^  FAIL (\S+?): ", proc.stdout, re.M))
    summary = re.search(r"(\d+) ok, (\d+) rows-only, (\d+) failed of (\d+) queries", proc.stdout)
    if not summary or (proc.returncode == 0) != (not failing):
        raise BenchError(f"oracle_check gave no usable result:\n{proc.stdout[-2000:]}{proc.stderr[-2000:]}")
    for line in proc.stdout.splitlines():
        if line.startswith("  FAIL "):
            log(f"wrong output: {line.strip()}")
    return failing, int(summary.group(4))


def check_ingest(out, corpus_dir):
    """The final store's latest version per key against a DuckDB fold over
    the generated base and batches, with the same expiries applied: a row
    is dropped by an expiry run after its batch when its day precedes that
    expiry's first kept day."""
    import duckdb
    import pandas as pd

    ing = os.path.join(corpus_dir, "ingest")
    plan = dict(ln.strip().split("=", 1) for ln in open(os.path.join(ing, "plan.properties")))
    batches, every = int(plan["batches"]), int(plan["every"])
    parts = [f"SELECT *, 0 AS batch FROM read_parquet('{ing}/base.parquet')"]
    parts += [f"SELECT *, {b} AS batch FROM read_parquet('{ing}/batch_{b:02d}.parquet')"
              for b in range(1, batches + 1)]
    parts += [f"SELECT *, {batches + 1} AS batch FROM read_parquet('{ing}/evolved.parquet')"]
    expiries = ", ".join(f"({k * every}, DATE '{plan['start']}' + INTERVAL {k} DAY)"
                         for k in range(1, batches // every + 1))
    cols = ["ts", "user_id", "event_type", "value", "props", "tag"]
    sql = f"""
      WITH rows AS ({' UNION ALL BY NAME '.join(parts)}),
      expiry(after_batch, keep_from) AS (VALUES {expiries}),
      live AS (SELECT * FROM rows r WHERE NOT EXISTS (
        SELECT 1 FROM expiry e
        WHERE e.after_batch >= r.batch AND CAST(r.ts AS DATE) < e.keep_from))
      SELECT event_id, max(version) AS last_version,
        {', '.join(f'arg_max({c}, version) AS last_{c}' for c in cols)}
      FROM live GROUP BY event_id ORDER BY event_id"""
    want = duckdb.connect().execute(sql).df()
    got = pd.read_parquet(os.path.join(out, "ingest_latest"))
    got = got.sort_values("event_id").reset_index(drop=True)[list(want.columns)]

    def micros(s):
        s = pd.to_datetime(s)
        if s.dt.tz is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        return s.astype("datetime64[us]").astype("int64")

    want["last_ts"], got["last_ts"] = micros(want["last_ts"]), micros(got["last_ts"])
    if len(got) != len(want):
        log(f"wrong output: tsdb_ingest rows spark={len(got)} fold={len(want)}")
        return False
    for c in want.columns:
        a, b = got[c].tolist(), want[c].tolist()
        same = all((x == y) or (pd.isna(x) and pd.isna(y)) for x, y in zip(a, b))
        if not same:
            log(f"wrong output: tsdb_ingest column {c} differs from the fold")
            return False
    return True


def percentile(xs, p):
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(xs):
    """(level, value) of the highest whole percentile with at least ten
    samples beyond it; (0, 0.0) when there are too few samples."""
    n = len(xs)
    if n <= 10:
        return 0, 0.0
    level = int(100 * (n - 10) // n)
    while level > 0 and sum(1 for x in xs if x > percentile(xs, level)) < 10:
        level -= 1
    return level, percentile(xs, level)


def layer_metrics(out, res):
    """Per-layer metrics per pass kind from the spans and per-op records."""
    spans = [json.loads(ln) for ln in open(os.path.join(out, "spans.jsonl")) if ln.strip()]
    recs = [json.loads(ln) for ln in open(os.path.join(out, "ops.jsonl")) if ln.strip()]
    kind_of = lambda p: "cold" if p == 0 else "warm"  # noqa: E731
    passes = {"cold": 1, "warm": len(res["pass_s"].get("warm_traced", []))}
    child = [0] * len(spans)
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] += s["end"] - s["start"]
    span_metric = {
        "build": "ops.build_ms", "analysis": "spark.analysis_ms",
        "optimization": "spark.optimization_ms", "planning": "spark.planning_ms",
        "exec": "exec.ms", "store.append": "store.append_ms", "store.read": "store.read_ms",
        "store.compact": "store.compact_ms", "store.write": "store.write_ms",
        "store.rollup": "store.rollup_ms", "store.expire": "store.expire_ms",
    }
    tot = {k: {} for k in passes}

    def add(kind, name, v):
        tot[kind][name] = tot[kind].get(name, 0.0) + v

    for i, s in enumerate(spans):
        kind = kind_of(s["pass"])
        if s["name"] == "op":
            add(kind, "_op_ms", (s["end"] - s["start"]) / 1e6)
        elif s["name"] in span_metric:
            add(kind, span_metric[s["name"]], (s["end"] - s["start"] - child[i]) / 1e6)
    scale = {"files_listed": ("core.Tables.files_listed", 1), "diskmemo_builds": ("core.DiskMemo.builds", 1),
             "diskmemo_build_b": ("core.DiskMemo.build_mb", 1e-6),
             "codegen_compiles": ("spark.codegen_compiles", 1), "codegen_ns": ("spark.codegen_ms", 1e-6),
             "jobs": ("exec.jobs", 1), "stages": ("exec.stages", 1), "tasks": ("exec.tasks", 1),
             "task_ms": ("exec.task_ms", 1), "task_cpu_ns": ("exec.task_cpu_ms", 1e-6),
             "gc_ms": ("exec.gc_ms", 1), "shuffle_write_b": ("exec.shuffle_write_mb", 1e-6),
             "shuffle_read_b": ("exec.shuffle_read_mb", 1e-6), "spill_b": ("exec.spill_mb", 1e-6),
             "input_b": ("exec.input_mb", 1e-6), "store_written_b": ("_written", 1),
             "store_ingested_b": ("_ingested", 1), "store_live_b": ("_live", 1),
             "store_latest_b": ("_latest", 1), "store_files": ("store.files", 1)}
    peak = {k: 0.0 for k in passes}
    for r in recs:
        kind = r["kind"]
        for f, (name, mul) in scale.items():
            if f in r:
                add(kind, name, float(r[f]) * mul)
        peak[kind] = max(peak[kind], float(r["peak_task_mem_b"]) / 1e6)
    metrics = {}
    for kind, n in passes.items():
        t = tot[kind]
        per = {name: v / max(n, 1) for name, v in t.items()}
        for name in list(span_metric.values()) + [v[0] for v in scale.values()]:
            if not name.startswith("_"):
                metrics[f"{kind}.{name}"] = per.get(name, 0.0)
        metrics[f"{kind}.exec.peak_task_mem_mb"] = peak[kind]
        metrics[f"{kind}.exec.slot_util"] = (t.get("exec.task_ms", 0.0) / (t["_op_ms"] * CPUS)
                                             if t.get("_op_ms") else 0.0)
        metrics[f"{kind}.store.write_amp"] = (t["_written"] / t["_ingested"]
                                              if t.get("_ingested") else 0.0)
        metrics[f"{kind}.store.space_amp"] = (t["_live"] / t["_latest"] if t.get("_latest") else 0.0)
    warm_t = res["pass_s"].get("warm_traced", [])
    warm_u = res["pass_s"].get("warm", [])
    metrics["trace.overhead_pct"] = (
        (statistics.median(warm_t) / statistics.median(warm_u) - 1.0) * 100.0
        if warm_t and warm_u else 0.0)
    return metrics


def run_workload(name, wl, args, cp, corpus_dir):
    rundir = os.path.join(BUILD, "runs", f"{name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    steal0, load0 = steal_jiffies(), loadavg1()
    t0 = time.time()
    try:
        res, out, tmp = run_harness(cp, wl, args, corpus_dir, rundir)
        residue_mb = tree_bytes(tmp) / 1e6
        steal = steal_jiffies() - steal0
        jvm_s = time.time() - t0
        if args.inject_fail and wl.get("run_keys"):
            inject_wrong_oracle(os.path.join(out, "dump"), wl["run_keys"][0])
        failing, _ = check_registry(os.path.join(out, "dump"), corpus_dir)
        ingest_ok = check_ingest(out, corpus_dir) if wl.get("ingest") else True
        check_s = time.time() - t0 - jvm_s
        traced = args.trace == 1
        cold_key = "cold_traced" if traced else "cold"
        warm = [ms for v in res["samples_ms"].get("warm", {}).values() for ms in v]
        warm_cpu = [ms for v in res["samples_cpu_ms"].get("warm", {}).values() for ms in v]
        passes = res["passes"]
        # an operation that threw counts once per failed execution; one
        # with wrong output counts on every execution of every pass
        failed = sum(res["failed"].values())
        failed += sum(passes - res["failed"].get(k, 0) for k in failing)
        if not ingest_ok:
            failed += passes * (res["ops_per_pass"] - len(wl.get("run_keys", [])))
        attempted = res["attempted"]
        e2e = {
            "setup_s": res["setup_s"],
            "cold_pass_s": res["pass_s"][cold_key][0],
            "warm_pass_s": statistics.median(res["pass_s"]["warm"]),
            "cold_pass_cpu_s": res["pass_cpu_s"][cold_key][0],
            "warm_pass_cpu_s": statistics.median(res["pass_cpu_s"]["warm"]),
            "op_p50_ms": percentile(warm, 50) if warm else 0.0,
            "op_cpu_p50_ms": percentile(warm_cpu, 50) if warm_cpu else 0.0,
            "peak_rss_mb": res["peak_rss_mb"],
            "artifact_mb": res["artifact_mb"],
            "fail_frac": failed / attempted,
        }
        report = {
            "workload": name, "seed": args.seed, "trace": args.trace,
            "end_to_end": e2e, "warm_samples": len(warm),
            "tail": tail_percentile(warm),
            "warm_passes": len(res["pass_s"]["warm"]), "warm_pass_samples_s": res["pass_s"]["warm"],
            "ops_per_pass": res["ops_per_pass"],
            "attempted": attempted, "failed": failed,
            "wrong_output_keys": sorted(failing) + ([] if ingest_ok else ["tsdb_ingest"]),
            "threw": res["failed"],
            "correct": failed == 0,
            "cpu_steal_jiffies": steal, "loadavg1m_start": load0,
            "tmp_residue_mb": residue_mb,
            "run_wall_s": time.time() - t0, "jvm_s": jvm_s, "dump_s": res["dump_s"],
            "check_s": check_s,
        }
        if traced:
            report["per_layer"] = {**layer_metrics(out, res),
                                   "artifact_mb": e2e["artifact_mb"], "fail_frac": e2e["fail_frac"],
                                   "tmp_residue_mb": residue_mb}
        return report
    finally:
        if not args.keep:
            shutil.rmtree(rundir, ignore_errors=True)


def print_report(r):
    e = r["end_to_end"]
    print(f"== workload {r['workload']}  seed {r['seed']}  trace {r['trace']}")
    for name, unit in END_TO_END:
        extra = ""
        if name == "op_p50_ms":
            level, value = r["tail"]
            extra = (f"   (n={r['warm_samples']} warm samples; p{level} {value:.4f} ms,"
                     " the highest percentile with ten samples beyond it)")
        if name == "warm_pass_s":
            extra = (f"   (median of {r['warm_passes']} passes of {r['ops_per_pass']} ops: "
                     + " ".join(f"{x:.3f}" for x in r["warm_pass_samples_s"]) + ")")
        print(f"  {name:<14} {e[name]:>14.4f} {unit}{extra}")
    print(f"  correct {r['correct']}  attempted {r['attempted']}  failed {r['failed']}  "
          f"wrong-output {r['wrong_output_keys']}  threw {r['threw']}")
    print(f"  cpu_steal_jiffies {r['cpu_steal_jiffies']}  loadavg1m {r['loadavg1m_start']}  "
          f"tmp residue after exit {r['tmp_residue_mb']:.3f} MB")
    print(f"  run wall {r['run_wall_s']:.1f} s: JVM {r['jvm_s']:.1f} s (output dumps "
          f"{r['dump_s']:.1f} s), checks {r['check_s']:.1f} s")
    for k, v in sorted(r.get("per_layer", {}).items()):
        print(f"  {k:<36} {v:>14.4f}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    ap.add_argument("--inject-fail", action="store_true",
                    help="add one throwing and one wrong-output operation (self-test)")
    ap.add_argument("--tiny", action="store_true", help="use the tiny self-test corpus")
    args = ap.parse_args(argv)
    for p in ("src/main/scala", "tools/gen_sf1.py", "tools/oracle_check.py"):
        if not os.path.exists(os.path.join(ROOT, p)):
            raise BenchError(f"not a repository checkout: {p} is missing")
    workloads = load_workloads()["workloads"]
    names = list(workloads) if args.workload == "all" else [args.workload]
    for n in names:
        if n not in workloads:
            raise BenchError(f"unknown workload {n}; known: {', '.join(workloads)}")
    cp = ensure_built()
    sizes = corpus.TINY if args.tiny else corpus.SIZES
    corpus_dir = corpus.ensure(args.seed, os.path.join(BUILD, "corpus"), sizes)
    spec = bench_spec()
    reports = []
    for n in names:
        r = run_workload(n, workloads[n], args, cp, corpus_dir)
        print_report(r)
        reports.append(r)
    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    final = []
    for r in reports:
        values = r["per_layer"] if args.trace else r["end_to_end"]
        final.append({
            "correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in want},
        })
    print(json.dumps(final[0] if len(final) == 1 else {"workloads": dict(zip(names, final))}))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
