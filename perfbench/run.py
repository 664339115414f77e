#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the repository root. The first run builds the harness
(`perfbench/build.sbt`, which compiles the repository's main sources) and
caches the classpath under `.bench_build/`; later runs reuse it while the
sources are unchanged. Each run generates its inputs from the seed, launches
one harness JVM on `local[<nproc>]`, checks the answers, writes the full
record to `.bench_build/perfbench/results/`, and prints one JSON line as the
last line of stdout: {"correct", "attempted", "failed", "metrics"}.

`--smoke` runs every workload at tiny size, traced and untraced, and asserts
that each run reports every metric of BENCHMARK.json with its unit and that
every check passes.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("search_serve", "pipeline_sf01", "index_churn")
HEAP = "4g"
RUN_LIMIT_S = 170.0  # the whole run, build excluded, stays under 180 s
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_files():
    """Every file the harness build reads, in a stable order."""
    out = []
    for base in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, base)):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(ROOT, p) for p in (
        "build.sbt", "project/build.properties",
        "perfbench/build.sbt", "perfbench/project/build.properties")]
    return sorted(out)


def tree_hash():
    h = hashlib.sha1()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def build():
    """Compile the harness (and the repository) once per source tree; return
    the runtime classpath."""
    missing = [p for p in source_files() if not os.path.isfile(p)]
    if missing or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit(f"no program sources to build (missing {missing[:3]})")
    stamp = tree_hash()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(WORK, exist_ok=True)
    log("building the harness")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, capture_output=True, text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("harness build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def cpu_times():
    """(steal, total) jiffies from /proc/stat; steal is time a shared host
    ran other guests while this one wanted the processor."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().strip()
    except OSError:
        return ""


def generate(workload, seed, smoke, out):
    """Inputs for one run, generated from the seed into `out` (not timed)."""
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True  # write nothing beside the sources
    import datagen
    os.makedirs(out)
    if workload == "search_serve":
        datagen.serve_csvs(seed, out, 0.001 if smoke else 0.01)
    elif workload == "pipeline_sf01":
        datagen.pipeline_tables(seed, out, 0.001 if smoke else 0.01)
    # index_churn generates its vectors in the harness JVM
    return out


def oracle_check(data_dir, verify_dir):
    """Compare every dumped query answer with its DuckDB oracle: sorted
    columns, sorted rows, exact values. Returns the names that differ."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            exp = con.execute(sql).df()
            got = con.execute(
                f"SELECT * FROM '{os.path.join(verify_dir, name)}/*.parquet'").df()
            cols = sorted(exp.columns)
            if sorted(got.columns) != cols or len(got) != len(exp):
                bad.append(name)
                continue
            exp = exp[cols].sort_values(by=cols).reset_index(drop=True)
            got = got[cols].sort_values(by=cols).reset_index(drop=True)
            if not exp.equals(got):
                bad.append(name)
        except Exception as e:  # a failing oracle or a missing dump is a failed check
            log(f"oracle {name}: {e}")
            bad.append(name)
    return bad, len(oracle)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload, seed, seconds, trace, smoke=False):
    """One harness run; returns (contract line dict, full record dict)."""
    spec = benchmark_spec()
    cp = build()
    t_start = time.time()
    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    res_dir = os.path.join(WORK, "results")
    name = f"{workload}-seed{seed}-trace{int(trace)}{'-smoke' if smoke else ''}"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(res_dir, exist_ok=True)
    jvm_log = os.path.join(run_dir, "jvm.log")
    out = os.path.join(run_dir, "result.json")
    n = nproc()
    load_start = loadavg()
    steal_start = cpu_times()
    try:
        data = generate(workload, seed, smoke, os.path.join(run_dir, "data"))
        cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
               + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", cp, "perfbench.Main",
                  "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                  "--trace", "1" if trace else "0", "--data", data, "--work", run_dir,
                  "--out", out, "--nproc", str(n), "--smoke", "1" if smoke else "0"])
        budget = max(30.0, RUN_LIMIT_S - (time.time() - t_start))
        with open(jvm_log, "w") as logf:
            try:
                rc = subprocess.run(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                                    timeout=budget).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.isfile(out):
            with open(jvm_log) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"harness run failed ({rc})")
        with open(out) as f:
            rec = json.load(f)
        checks = list(rec["checks"])
        failed = int(rec["failed"])
        if workload == "pipeline_sf01":
            bad, total = oracle_check(data, os.path.join(run_dir, "verify"))
            checks.append({"name": "pipeline.answers_match_duckdb_oracle", "ok": not bad,
                           "note": f"{len(bad)} of {total} differ: {bad[:5]}"})
            failed += len(bad)
        if os.path.isfile(out + ".spans.jsonl"):
            shutil.copy(out + ".spans.jsonl", os.path.join(res_dir, name + ".spans.jsonl"))
    finally:
        if os.path.isfile(jvm_log):
            shutil.copy(jvm_log, os.path.join(res_dir, name + ".log"))
        shutil.rmtree(run_dir, ignore_errors=True)
    want = spec["per_layer" if trace else "end_to_end"]
    got = rec["per_layer" if trace else "end_to_end"]
    metrics = {}
    for m in want:
        v = got.get(m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    present = all(isinstance(x["value"], (int, float)) and math.isfinite(x["value"])
                  for x in metrics.values())
    checks.append({"name": "metrics.all_reported", "ok": present,
                   "note": ",".join(k for k, x in metrics.items()
                                    if not isinstance(x["value"], (int, float)))})
    for k, x in metrics.items():
        if not isinstance(x["value"], (int, float)) or not math.isfinite(x["value"]):
            x["value"] = -1.0
    correct = all(c["ok"] for c in checks) and failed == 0
    rec["checks"] = checks
    rec["failed"] = failed
    steal_end = cpu_times()
    rec["stamp"].update({"git_sha": git_sha(), "tree_sha1": tree_hash(), "host_nproc": n,
                         "loadavg_run_start": load_start, "loadavg_run_end": loadavg(),
                         "cpu_steal_pct": 100.0 * (steal_end[0] - steal_start[0])
                         / max(1, steal_end[1] - steal_start[1]),
                         "wall_s": time.time() - t_start})
    with open(os.path.join(res_dir, name + ".json"), "w") as f:
        json.dump(rec, f, indent=1)
    for c in checks:
        if not c["ok"]:
            log(f"check failed: {c['name']} {c.get('note', '')}")
    line = {"correct": correct, "attempted": int(rec["attempted"]), "failed": failed,
            "metrics": metrics}
    return line, rec


def smoke():
    spec = benchmark_spec()
    problems = []
    for w in WORKLOADS:
        for trace in (False, True):
            line, rec = run_once(w, 1, 3, trace, smoke=True)
            want = spec["per_layer" if trace else "end_to_end"]
            for m in want:
                got = line["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or got["value"] == -1.0:
                    problems.append(f"{w} trace={int(trace)}: {m['name']} missing")
            if not line["correct"]:
                problems.append(f"{w} trace={int(trace)}: checks failed "
                                f"{[c['name'] for c in rec['checks'] if not c['ok']]}")
            log(f"smoke {w} trace={int(trace)}: correct={line['correct']} "
                f"attempted={line['attempted']} failed={line['failed']}")
    for p in problems:
        log(p)
    print(json.dumps({"smoke": "ok" if not problems else "failed", "problems": problems}))
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        return smoke()
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    line, _ = run_once(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
