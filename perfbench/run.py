#!/usr/bin/env python3
"""Benchmark of graft, the Spark inverted-index + BM25 engine.

    python3 perfbench/run.py --workload engine|battery --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Run from the root of a checkout. The first run compiles the program and the
benchmark into .bench_build/ (see build.py). Each workload runs in one JVM on
a local[nproc] Spark master with one client and does a fixed amount of work;
--seconds is accepted for the common benchmark interface, and BENCHMARK.json's
run_seconds is about the length of the measured window. perfbench/metrics.json
says what each workload and metric means.

The last line of stdout is one JSON object: correct, attempted, failed and
the metrics BENCHMARK.json lists (end-to-end ones with --trace 0, per-layer
ones with --trace 1). Lines before it name every figure with its unit. A
traced run also writes its spans and all per-layer figures under
.bench_build/runs/. Exit code: 0 when the outputs were correct, 1 on a
correctness mismatch, 2 when the run could not complete.

`--workload all` runs every workload untraced and then traced with one seed,
prints the named figures of each, and the tracing overhead per workload.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["engine", "battery"]
RUN_LIMIT_S = 170

sys.path.insert(0, HERE)
import build  # noqa: E402
import datagen  # noqa: E402

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class RunError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def compare(got_cols, got_rows, exp_cols, exp_rows):
    """Column-name-sorted, row-by-row value compare, as tools/compare_verify.py."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"SCHEMA_MISMATCH got={sorted(got_cols)} exp={sorted(exp_cols)}"
    if len(got_rows) != len(exp_rows):
        return f"ROWCOUNT got={len(got_rows)} exp={len(exp_rows)}"
    gi = [got_cols.index(c) for c in sorted(got_cols)]
    ei = [exp_cols.index(c) for c in sorted(exp_cols)]
    for r, (g, e) in enumerate(zip(got_rows, exp_rows)):
        for name, a, b in zip(sorted(got_cols), (g[i] for i in gi), (e[i] for i in ei)):
            eq = a == b
            if not eq and isinstance(a, float) and isinstance(b, float):
                eq = math.isnan(a) and math.isnan(b)
            if not eq and str(a) != str(b):
                return f"VALUE_DIFF col={name} row={r} got={a!r} exp={b!r}"
    return None


def battery_oracle(out_dir, data_dir):
    """Each battery output must match its DuckDB oracle over the same tables."""
    import duckdb
    con = duckdb.connect()
    for t in datagen.SIZES.keys() | {"region", "nation"}:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    problems = []
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        got = con.sql(f"SELECT * FROM '{d}/*.parquet'")
        got_cols, got_rows = got.columns, got.fetchall()
        if name not in oracle:
            if not got_rows:
                problems.append(f"battery: {name} returned no rows")
            continue
        exp = con.sql(oracle[name])
        diff = compare(got_cols, got_rows, exp.columns, exp.fetchall())
        if diff:
            problems.append(f"battery: {name} {diff}")
    con.close()
    return problems


def archive_path(workload):
    return os.path.join(OUT, f"perfbench-{workload}.jsa")


def run_jvm(jar, workload, seed, trace, archive=False):
    """One run in a fresh JVM; `archive` writes the workload's class-data
    archive at exit instead of using it."""
    deadline = time.monotonic() + RUN_LIMIT_S
    jsa = archive_path(workload)
    cds = f"-XX:ArchiveClassesAtExit={jsa}" if archive else f"-XX:SharedArchiveFile={jsa}"
    workdir = os.path.join(OUT, "runs", f"{workload}-{seed}-t{trace}")
    shutil.rmtree(workdir, ignore_errors=True)
    data_root = os.path.join(workdir, "data")
    os.makedirs(os.path.join(data_root, "tmp"))
    extra = []
    if workload == "battery":
        tables = os.path.join(data_root, "tables")
        datagen.write(42, tables)
        extra = ["--data", tables]
    result_file = os.path.join(workdir, "result.json")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData", cds, "-Xlog:cds=off",
            "-Xlog:cds+dynamic=off"] +
           [f"-Djava.io.tmpdir={os.path.join(data_root, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.sql.session.timeZone=UTC"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           ["-cp", build.classpath(ROOT, jar), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--trace", str(trace),
            "--work", data_root, "--out", result_file] + extra)
    jvm_log = os.path.join(workdir, "jvm.log")
    with open(jvm_log, "w") as lf:
        try:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT,
                               timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise RunError(f"{workload} did not finish in time; see {jvm_log}")
    if r.returncode != 0 or not os.path.exists(result_file):
        with open(jvm_log) as lf:
            tail = lf.read()[-3000:]
        raise RunError(f"{workload} JVM exited with {r.returncode}:\n{tail}")
    with open(result_file) as f:
        res = json.load(f)
    if workload == "battery":
        res["mismatches"] += battery_oracle(os.path.join(data_root, "battery", "out"), tables)
    if trace:
        with open(os.path.join(workdir, "layers.json"), "w") as f:
            json.dump(res["layers"], f, indent=1, sort_keys=True)
        log(f"spans: {os.path.join(workdir, 'trace.jsonl')}")
    shutil.rmtree(data_root, ignore_errors=True)
    return res


def unit_of(units, name):
    """Declared unit; per-query battery figures are declared by pattern."""
    if name in units:
        return units[name]
    return "ms" if name.endswith("_ms") else "s" if name.endswith("_s") else ""


def figures(res):
    """All named figures of one run: (name, value, unit)."""
    out = [(r["name"], r["value"], r["unit"]) for r in res["report"]]
    out.append(("error_rate", res["failed"] / max(1, res["attempted"]), "ratio"))
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    jar = build.build(ROOT, OUT, log)
    for w in WORKLOADS if a.workload == "all" else [a.workload]:
        if not os.path.exists(archive_path(w)):
            # class-data sharing: one untimed run of the workload archives the
            # classes it loads, so its measured JVMs map them instead of
            # loading and verifying them again (several seconds of each cold
            # start); one archive per workload, so no workload's JVM depends
            # on which workload ran first
            log(f"archiving the classes {w} loads with an untimed run")
            run_jvm(jar, w, a.seed, 0, archive=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "metrics.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["metrics"]}

    if a.workload == "all":
        return run_all(jar, a.seed, units)

    res = run_jvm(jar, a.workload, a.seed, a.trace)
    for m in res["errors"] + res["mismatches"]:
        log(m)
    for name, v, unit in figures(res):
        print(f"{a.workload} {name} {v:.6g} {unit}")
    for name, v in sorted(res["e2e"].items()):
        print(f"{a.workload} e2e.{name} {v:.6g} {unit_of(units, name)}")
    if a.trace:
        shown = {r["name"] for r in res["report"]}
        for name, v in sorted(res["layers"].items()):
            if name not in shown:
                print(f"{a.workload} {name} {v:.6g} {unit_of(units, name)}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["layers"] if a.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if not isinstance(v, (int, float)) or math.isnan(v):
            raise RunError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = not res["mismatches"]
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


def run_all(jar, seed, units):
    """Every workload untraced, then traced, with one seed."""
    ok = True
    for w in WORKLOADS:
        plain = run_jvm(jar, w, seed, 0)
        traced = run_jvm(jar, w, seed, 1)
        ok = ok and not plain["mismatches"] and not traced["mismatches"]
        for m in plain["mismatches"] + traced["mismatches"]:
            log(m)
        for name, v, unit in figures(plain):
            print(f"{w:8s} {name:28s} {v:14.6g} {unit}")
        for name, v in sorted(plain["e2e"].items()):
            print(f"{w:8s} {name:28s} {v:14.6g} {unit_of(units, name)}")
        base, with_trace = plain["e2e"]["op_mean_ms"], traced["e2e"]["op_mean_ms"]
        print(f"{w:8s} {'trace_overhead_pct':28s} {100 * (with_trace / base - 1):14.6g} %"
              f"  (op_mean_ms untraced {base:.4g}, traced {with_trace:.4g})")
    return 0 if ok else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (RunError, RuntimeError, OSError, subprocess.SubprocessError) as e:
        log(f"run failed: {e}")
        sys.exit(2)
