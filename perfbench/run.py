#!/usr/bin/env python3
"""Benchmark of the ELB ETL (`graft.ElbPipeline.run`) and the query registry.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload etl_backfill --seed 1 --seconds 10 --trace 0

Builds the repository and the benchmark with `perfbench/build.py`, runs
one JVM on `local[<cores>]` for the workload, and prints as its last line
one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics of BENCHMARK.json with `--trace 0`, the per-layer ones
with `--trace 1`). The line before it is an `info` object: host yardsticks
(`calib_1t`, `calib_mt`), `failed_frac`, tails, input properties and any
failed check by name. `query_mix` reads tables that `gen_tables.py` writes
from the seed, and its outputs are checked here against DuckDB running
each query's oracle SQL. A traced run also writes its spans and a
per-layer table under `<build dir>/reports/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import gen_tables  # noqa: E402
import layers  # noqa: E402

# the JVM's limit; the oracle check after it must still end within 180 s
TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def applies(metric, workload):
    """Whether a per-layer metric is measured on the workload: `queries.*`
    only on `query_mix`, the ETL layers only on `etl_*`.
    """
    if metric.startswith(("spark.", "trace.")):
        return True
    return metric.startswith("queries.") == (workload == "query_mix")


def oracle_check(tables, out_dir):
    """Compares each query's output with DuckDB running its oracle SQL,
    with the canonicalisation of `tools/check_oracle.py`. Returns the
    number of queries checked and a failure message for each mismatch.
    """
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    import duckdb
    from check_oracle import canon
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{out_dir}/duckdb_tmp'")
    for t in gen_tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = []
    for name, sql in sorted(oracle.items()):
        try:
            if sql is None:
                raise ValueError("no oracle SQL")
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            want = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001 - reported by query name
            failures.append(f"{name}: oracle check: {e}")
            continue
        cols = sorted(got.columns)
        if cols != sorted(want.columns):
            failures.append(f"{name}: columns {cols} != oracle {sorted(want.columns)}")
            continue
        rows = [sorted(tuple(canon(v) for v in r) for r in df[cols].itertuples(index=False))
                for df in (got, want)]
        if rows[0] != rows[1]:
            failures.append(f"{name}: {len(rows[0])} rows differ from the oracle's {len(rows[1])}")
    con.close()
    return len(oracle), failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classes = build.build()
    launch_ms = int(time.time() * 1000)
    out_root = build.build_dir()
    work = os.path.join(out_root, "work", f"{a.workload}-{os.getpid()}")
    reports = os.path.join(out_root, "reports")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(reports, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result_file = os.path.join(work, "result.json")
    log_file = os.path.join(reports, f"{tag}.log")
    cores = len(os.sched_getaffinity(0))

    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap and young generation keep the memory G1 touches, and
    # so the peak RSS, from swinging with its adaptive sizing
    cmd += ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Duser.language=en", "-Duser.country=US",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(classes), "perfbench.PerfBench",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
            result_file, str(launch_ms), str(cores)]
    try:
        if a.workload == "query_mix":
            gen_tables.write(os.path.join(work, "tables"), a.seed)
        with open(log_file, "w") as log:
            # few malloc arenas: with one per thread, native memory and
            # so the peak RSS vary with thread scheduling
            env = dict(os.environ, MALLOC_ARENA_MAX="2")
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
            try:
                code = proc.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"timed out after {TIMEOUT_S} s; log: {log_file}")
        if code != 0 or not os.path.exists(result_file):
            with open(log_file) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM exited with code {code}; log: {log_file}")
        with open(result_file) as f:
            res = json.load(f)
        if a.workload == "query_mix":
            t0 = time.time()
            checked, bad = oracle_check(os.path.join(work, "tables"), res["oracle_dir"])
            res["info"]["oracle_check_s"] = time.time() - t0
            res["attempted"] += checked
            res["failed"] += len(bad)
            res["failures"] += bad
            res["correct"] = res["correct"] and not bad
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["per_layer"] if a.trace else res["end_to_end"]
    missing = [m["name"] for m in wanted if got.get(m["name"]) is None
               and (not a.trace or applies(m["name"], a.workload))]
    if missing:
        fail(f"metrics not measured: {missing}")
    # a layer the workload never reaches reads 0
    got = {m["name"]: got.get(m["name"], 0.0) for m in wanted}
    info = dict(res["info"], failures=res["failures"],
                failed_frac=res["failed"] / max(res["attempted"], 1))
    if a.trace:
        with open(os.path.join(reports, f"{tag}-spans.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "info": info, "per_layer": res["per_layer"],
                       "spans": res["spans"]}, f, indent=1, sort_keys=True)
        table = layers.table(res)
        with open(os.path.join(reports, f"{tag}-layers.md"), "w") as f:
            f.write(table)
        print(table)
    print(json.dumps({"info": info}, sort_keys=True))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
