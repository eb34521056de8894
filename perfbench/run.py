#!/usr/bin/env python3
"""The repo benchmark: times one workload of the graft queries end to end.

    python3 perfbench/run.py --workload ts_bulk --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest [--full]

Run it from the repository root. It builds the library and the harness with
sbt (once per source state), generates the seeded inputs under
.perfbench/data, runs the JVM harness directly (local[4], one query at a
time), checks every output against its DuckDB oracle, and prints the
metrics as one JSON object on the last stdout line. `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run. A
failed query or oracle check sets "correct": false and the exit code to 1.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402
from workloads import GOLDEN, MODULES, WORKLOADS, families  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
CORES = 4
SHUFFLE_PARTITIONS = 4
XMX_MB = 3072
TIMEZONE = "UTC"
BASE_SEED = 42
BULK_COPIES = 5
HARNESS_TIMEOUT_S = 150
SELFTEST_TIMEOUT_S = 1800

ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

LAYER_METRICS = [
    "spark.catalyst.analysis_ms", "spark.catalyst.optimization_ms",
    "spark.catalyst.planning_ms", "spark.codegen.compiles", "spark.codegen.compile_ms",
    "spark.scheduler.jobs", "spark.scheduler.stages", "spark.scheduler.tasks",
    "spark.scheduler.failed_tasks", "spark.executor.task_s", "spark.executor.cpu_s",
    "spark.executor.gc_s", "spark.executor.core_util", "spark.shuffle.write_mb",
    "spark.shuffle.read_mb", "spark.shuffle.fetch_wait_s", "spark.memory.spill_mb",
    "spark.storage.cached_mb", "driver.self_s", "driver.result_mb",
    "bench.trace_overhead", "bench.span_coverage",
] + [f"{m}.{k}" for m in MODULES
     for k in ("build_s", "execute_s", "jobs", "task_s", "shuffle_mb")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties"]
    for pattern in ("src/main/**/*", "perfbench/src/**/*"):
        files += sorted(glob.glob(pattern, recursive=True))
    files += ["perfbench/build.sbt", "perfbench/project/build.properties"]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the harness; returns the runtime classpath."""
    out = os.path.join(STATE, "build")
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        cp = open(cp_file).read()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building the library and the harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True,
                       timeout=840)
    cps = [line for line in p.stdout.splitlines() if "scala-2.13/classes" in line
           and not line.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cps[-1].strip()


def _materialize(path, make):
    """Run make(tmp) once; the finished directory is renamed into place."""
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.rename(tmp, path)
    return path


def inputs(kind, seed):
    """Data directory of a workload, and the generation time it cost."""
    t = time.time()
    data = os.path.join(STATE, "data")
    base = _materialize(os.path.join(data, f"base-s{BASE_SEED}"),
                        lambda d: gen.base(d, BASE_SEED))
    if kind == "bulk":
        path = os.path.join(data, f"bulk-k{BULK_COPIES}-s{seed}")
        if not os.path.isdir(path):
            for old in sorted(glob.glob(os.path.join(data, "bulk-*")),
                              key=os.path.getmtime)[:-2]:
                shutil.rmtree(old)
        base = _materialize(path, lambda d: gen.replica(base, d, BULK_COPIES, seed))
    return base, time.time() - t


def table_stats(data_dir):
    stats = {}
    for t in gen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        files = sorted(glob.glob(os.path.join(path, "*.parquet"))) or [path]
        stats[t] = {"rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                    "files": len(files)}
    return stats


def run_harness(cp, run_dir, props, timeout):
    os.makedirs(os.path.join(run_dir, "tmp"))
    path = os.path.join(run_dir, "run.properties")
    with open(path, "w") as fh:
        fh.writelines(f"{k}={v}\n" for k, v in props.items())
    cmd = ["java", *ADD_OPENS, f"-Xmx{XMX_MB}m", f"-Xms{XMX_MB}m", "-XX:+UseG1GC",
           f"-Duser.timezone={TIMEZONE}", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-cp", cp, "perfbench.Harness", path]
    with open(os.path.join(run_dir, "harness.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                             stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: harness timed out; see {run_dir}/harness.log")
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "harness.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"perfbench: harness exited {code}")
    with open(result) as fh:
        return json.load(fh)


def execute(workload, queries, seed, seconds, trace, min_passes=3, plan_check=False,
            timeout=HARNESS_TIMEOUT_S):
    """Build, generate, run the harness and check the oracles."""
    cp = build()
    data_dir, gen_s = inputs(workload["data"], seed)
    runs = os.path.join(STATE, "runs")
    run_dir = os.path.join(runs, f"{workload['name']}-s{seed}-t{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for old in sorted(glob.glob(os.path.join(runs, "*")), key=os.path.getmtime)[:-3]:
        shutil.rmtree(old)
    res = run_harness(cp, run_dir, {
        "data": data_dir, "out": run_dir, "seconds": seconds, "trace": int(trace),
        "seed": seed, "cores": CORES, "shuffle_partitions": SHUFFLE_PARTITIONS,
        "xmx_mb": XMX_MB, "min_passes": min_passes, "plan_check": int(plan_check),
        "queries": ",".join(queries), "modules": ",".join(
            workload["queries"].get(q, "none") for q in queries)}, timeout)
    # A query whose check pass threw wrote no output; every output that was
    # written (a plan mismatch too) goes to the oracle.
    failures = {q: [m] for q, m in res["check_failures"].items()}
    with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    con = oracle.connect(data_dir, gen.TABLES, os.path.join(run_dir, "tmp"))
    for q in queries:
        if not os.path.isdir(os.path.join(run_dir, "check", q)):
            msg = None if q in failures else "no output written"
        elif q not in sqls:
            msg = "no oracle SQL"
        else:
            msg = oracle.check(con, os.path.join(run_dir, "check"), q, sqls[q])
        if msg:
            failures.setdefault(q, []).append(msg)
    con.close()
    res.update(failures={q: "; ".join(m) for q, m in failures.items()},
               generation_s=gen_s, run_dir=run_dir, inputs=table_stats(data_dir))
    return res


def report(name, seed, trace, queries, res):
    untraced = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    idx = {p["index"] for p in untraced}
    per_query = {}
    for q, p, b, e in res["samples"]:
        if p in idx:
            per_query.setdefault(q, []).append(b + e)
    # one checked execution per query, plus every timed execution
    attempted = int(res["timed_attempted"]) + len(queries)
    failed = int(res["timed_failed"]) + len(res["failures"])
    if not per_query:
        raise SystemExit(f"perfbench: no query of {name} ran; failures: {res['failures']}")
    pass_s = statistics.median(p["wall_s"] for p in untraced)
    if trace:
        metrics = {m: statistics.median(p["layers"].get(m, 0.0) for p in traced)
                   for m in LAYER_METRICS if m != "bench.trace_overhead"}
        # pass 0 is untraced and still warming up; leave it out of the ratio
        warm = [p["wall_s"] for p in untraced if p["index"] > 0] or [pass_s]
        metrics["bench.trace_overhead"] = \
            statistics.median(p["wall_s"] for p in traced) / statistics.median(warm)
        units = {m: _unit(m) for m in LAYER_METRICS}
    else:
        metrics = {
            "setup_s": res["setup_s"],
            "pass_s": pass_s,
            "query_geomean_s": statistics.geometric_mean(
                [statistics.median(ts) for ts in per_query.values()]),
            "peak_live_heap_mb": max(p["live_heap_mb"] for p in untraced),
        }
        units = {"setup_s": "s", "pass_s": "s", "query_geomean_s": "s",
                 "peak_live_heap_mb": "MB"}
    info = {
        "workload": name, "seed": seed, "trace": int(trace), "master": f"local[{CORES}]",
        "shuffle_partitions": SHUFFLE_PARTITIONS, "xmx_mb": XMX_MB,
        "heap_max_mb": res["heap_max_mb"], "timezone": TIMEZONE,
        "spark": res["spark_version"], "queries": len(queries),
        "passes": len(res["passes"]),
        "latency_samples": sum(len(ts) for ts in per_query.values()),
        "generation_s": round(res["generation_s"], 3), "inputs": res["inputs"],
        "error_rate": failed / attempted, "failures": res["failures"],
        "timed_failures": res["timed_failures"],
        "run_dir": os.path.relpath(res["run_dir"], ROOT),
    }
    with open(os.path.join(res["run_dir"], "report.json"), "w") as fh:
        json.dump({"info": info, "metrics": metrics, "passes": res["passes"]}, fh, indent=1)
    print("# " + json.dumps(info, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {m: {"value": v, "unit": units[m]}
                                  for m, v in metrics.items()}}))
    return failed == 0


def _unit(metric):
    suffix = metric.rsplit(".", 1)[1]
    if suffix.endswith("_ms"):
        return "ms"
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    return "ratio" if suffix in ("core_util", "trace_overhead", "span_coverage") else "count"


def selftest(full):
    """Planted failures must be caught; with --full, every query of the
    three families must pass the plan-equality and oracle checks."""
    ok = True
    w = {"name": "selftest", "data": "base", "queries": {}}
    res = execute(w, ["q01_sliding_basic", "plant_throw", "plant_wrong", "plant_flaky"],
                  0, 0, False)
    f, tf = res["failures"], res["timed_failures"]
    timed = {q for q, _, _, _ in res["samples"]}
    for cond, what in [
            ("plant_throw" in f and "plant_throw" in tf and "plant_throw" not in timed,
             "a throwing query is counted as failed and never timed"),
            ("plant_wrong" in f and "rows differ" in f["plant_wrong"],
             "a wrong output is caught by the oracle check"),
            ("plant_flaky" not in f and "plant_flaky" in tf,
             "a query that throws only when timed keeps its oracle verdict on the "
             "checked output"),
            ("q01_sliding_basic" not in f and "q01_sliding_basic" in timed,
             "a correct query passes and is timed"),
            (int(res["timed_failed"]) == 2 * len(res["passes"]),
             "each failed timed execution is counted once")]:
        print(("PASS " if cond else "FAIL ") + what)
        ok &= bool(cond)
    if full:
        cp = build()
        names = subprocess.run(
            ["java", "-cp", cp, "perfbench.ListQueries"], capture_output=True,
            text=True, check=True).stdout.split()
        for fam, (kind, qs) in families(names).items():
            res = execute({"name": f"selftest-{fam}", "data": kind, "queries": {}},
                          qs, 0, 0, False, min_passes=0, plan_check=True,
                          timeout=SELFTEST_TIMEOUT_S)
            bad = {q: m for q, m in res["failures"].items()
                   if not (q in GOLDEN and not m.startswith("plan mismatch"))}
            golden = sorted(q for q in qs if q in GOLDEN)
            checked = len(qs) - len(golden)
            print(f"{'PASS' if not bad else 'FAIL'} {fam}: {checked - len(bad)}/{checked} "
                  f"queries pass plan equality and the oracle"
                  + (f" (golden-value oracles not comparable on generated data: "
                     f"{', '.join(golden)})" if golden else ""))
            for q, m in sorted(bad.items()):
                print(f"     {q}: {m}")
            ok &= not bad
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--full", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        raise SystemExit("perfbench: run from the repository root (no build.sbt or "
                         "src/main/scala here)")
    if a.selftest:
        sys.exit(0 if selftest(a.full) else 1)
    if not a.workload:
        ap.error("--workload is required")
    w = dict(WORKLOADS[a.workload], name=a.workload)
    queries = list(w["queries"])
    res = execute(w, queries, a.seed, a.seconds, bool(a.trace))
    sys.exit(0 if report(a.workload, a.seed, bool(a.trace), queries, res) else 1)


if __name__ == "__main__":
    main()
