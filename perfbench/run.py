#!/usr/bin/env python3
"""Repository benchmark: the Kinesis-style topology and the batch query mix.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: topology, query_mix (see perfbench/README.md).
The program is compiled from source on first use (perfbench/build.py). One
JVM runs the workload (perfbench.Main) and writes its result; this script
adds the query-mix oracle check, prints every metric, and prints as its last
line one JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics with `--trace 0`, the per-layer ones with `--trace 1`.
It exits non-zero when any output check fails or the run errors.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("topology", "query_mix")
HARNESS_TIMEOUT_S = 170

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "throughput_per_s": "1/s",
}
LAYER_UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_ms": "ms",
    "spark.task_cpu_ms": "ms",
    "spark.task_gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.stage_busy_ms": "ms",
    "spark.sched_gap_ms": "ms",
    "qe.count": "count",
    "qe.analysis_ms": "ms",
    "qe.optimization_ms": "ms",
    "qe.planning_ms": "ms",
    "work.units": "count",
    "work.unit_ms_p50": "ms",
    "work.unit_self_ms_p50": "ms",
    "work.jobs_per_unit": "count",
    "work.tasks_per_unit": "count",
    "jvm.gc_ms": "ms",
    "jvm.heap_peak_mb": "MB",
    "jvm.peak_rss_mb": "MB",
}
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cpus():
    if os.environ.get("PERFBENCH_CPUS"):
        return int(os.environ["PERFBENCH_CPUS"])
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(classes, args, work):
    cp = os.pathsep.join(build.classpath_entries(classes))
    tmp = work / "tmp"
    tmp.mkdir()
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), str(work), str(cpus())]
    log = work.parent / "harness.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    return code, log


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def rows_of(table):
    names = sorted(table)
    data = list(zip(*[[norm(v) for v in table[c]] for c in names])) if names else []
    return names, sorted(data)


def oracle_check(results_dir, data_dir):
    """Compare each query-mix result (written by the warm-up pass) with the
    DuckDB oracle SQL over the same generated tables: same column names, same
    multiset of rows, exact values. Returns (ok, details)."""
    import duckdb
    import pyarrow.dataset as pads
    oracle = json.loads((results_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(data_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    details, ok = [], True
    for name, sql in sorted(oracle.items()):
        try:
            spark_rows = rows_of(pads.dataset(str(results_dir / name)).to_table().to_pydict())
            duck_rows = rows_of(con.sql(sql).fetch_arrow_table().to_pydict())
        except Exception as e:  # an unreadable result or a failing oracle is a mismatch
            ok = False
            details.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if spark_rows != duck_rows:
            ok = False
            what = "columns" if spark_rows[0] != duck_rows[0] else \
                f"rows {len(spark_rows[1])} vs oracle {len(duck_rows[1])}" \
                if len(spark_rows[1]) != len(duck_rows[1]) else "values"
            details.append(f"{name}: differs from the oracle ({what})")
    details.insert(0, f"{len(oracle)} query results compared with the DuckDB oracle")
    return ok, details


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build.build()
    base = build.OUT
    work = base / "work"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    t0 = time.time()
    code, log = run_harness(classes, args, work)
    result_file = work / "result.json"
    if code is None or not result_file.exists():
        sys.stderr.write(log.read_text()[-6000:])
        sys.exit(f"harness {'timed out' if code is None else f'exited {code}'} without a result")
    res = json.loads(result_file.read_text())

    if args.workload == "query_mix" and (work / "mix-results" / "oracle_sql.json").exists():
        ok, details = oracle_check(work / "mix-results", work / "mix-data")
        res["checks"].append({"name": "query_mix results match the DuckDB oracle",
                              "ok": ok, "detail": details})
        res["correct"] = res["correct"] and ok

    # tracing overhead: traced minus the last untraced run of this workload,
    # only when that run had the same seed, length, cores and build
    res["run"] = {"seed": args.seed, "seconds": args.seconds, "cpus": cpus(),
                  "classes": classes.name}
    last = base / "last"
    last.mkdir(exist_ok=True)
    untraced = last / f"{args.workload}-trace0.json"
    if args.trace == 1:
        prev = json.loads(untraced.read_text()) if untraced.exists() else {}
        if prev.get("run") == res["run"]:
            res["tracing_overhead"] = {k: res["e2e"][k] - prev["e2e"][k]
                                       for k in res["e2e"] if k in prev["e2e"]}
        else:
            print("tracing overhead not computed: no untraced run of this workload "
                  "with the same seed, seconds, cores and build in this checkout")
    res["wall_s"] = time.time() - t0
    (last / f"{args.workload}-trace{args.trace}.json").write_text(json.dumps(res))
    shutil.rmtree(work, ignore_errors=True)

    for c in res["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: " + "; ".join(c["detail"][:8]))
    for e in res["errors"]:
        print(f"error {e['where']}: {e['class']}: {e['message']}")
    for k, v in res["e2e"].items():
        print(f"metric {k} = {fmt(v)} {E2E_UNITS.get(k, '')}")
    for k, v in res["named"].items():
        print(f"metric {args.workload}.{k} = {fmt(v)}")
    for k, v in sorted(res["detail"].items()):
        if isinstance(v, (int, float)):
            print(f"layer {k} = {fmt(v)}")
    for k, v in res.get("tracing_overhead", {}).items():
        print(f"tracing overhead {k} = {fmt(v)}")
    print(f"artifact {last / f'{args.workload}-trace{args.trace}.json'}")

    units = LAYER_UNITS if args.trace else E2E_UNITS
    values = res["layers"] if args.trace else res["e2e"]
    missing = [k for k in units if k not in values]
    if missing:
        res["correct"] = False
        print(f"missing metrics: {missing}")
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items() if k in values}
    # a run that failed before its first operation counts as one failed attempt
    attempted = max(int(res["attempted"]), 1)
    failed = int(res["failed"]) if res["attempted"] else 1
    print(json.dumps({"correct": bool(res["correct"]), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
