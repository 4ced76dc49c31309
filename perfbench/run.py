#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <curation|index_store|relational>
        --seed <n> --seconds <s> --trace <0|1> [--tables <dir>]

Builds the program and harness on first use (perfbench/build.py), draws
the workload's inputs from the fixture tables by the seed (datagen.py;
relational reads the sf0.1 harness tables in `--tables` in place), runs
the workload in one JVM on
local[nproc] with one closed-loop client, checks every op's output, and
prints as its last stdout line one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. The line before it is the full run record
(run conditions, every metric, failure ratio, sample counts); it is also
appended to .bench_runs/records.jsonl.

Each run works in a fresh directory under .bench_runs/ (inputs, outputs,
java.io.tmpdir, Spark local dirs), removed at exit, so no index or cached
store survives from an earlier run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
RUNS = os.path.join(ROOT, ".bench_runs")
DEADLINE_S = 170  # for everything after the build

WORKLOADS = ("curation", "index_store", "relational")
# curation: documents sampled from the sf0.1 fixture
CURATION_DOCS = 1000
# index_store: IVF cells, and the corpus: salted copies of the sf0.1
# embeddings, documents sampled from sf0.1, append batches per index, probe
# batches of each kind
STORE_CELLS = 64
STORE = dict(sf="0.1", copies=3, n_docs=1000, batches=2, probe_ops=2)

JVM_FLAGS = ["-Xms4g", "-Xmx4g", "-Xmn1g", "-Xss8m"] + [
    x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    sys.stderr.write(f"[perfbench {time.time() - T_START:7.2f}s] {msg}\n")
    sys.stderr.flush()


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def oracle_failures(data, dump):
    """Queries whose first timed output differs from DuckDB running the
    query's oracle SQL over the same inputs (tools/check_correctness.py)."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_correctness.py"),
                        data, dump], capture_output=True, text=True, timeout=120)
    names = json.load(open(os.path.join(dump, "oracle_sql.json")))
    ok = {ln.split()[1] for ln in r.stdout.splitlines() if ln.startswith("OK ")}
    return {n: "oracle mismatch" for n in names if n not in ok}, r.stdout


def inputs(args, data):
    """Writes the inputs into `data` (relational reads --tables in place);
    returns the input directory and its row count (the workload's input
    size)."""
    if args.workload == "curation":
        return data, datagen.curation_inputs(args.seed, CURATION_DOCS, data)["documents"]
    if args.workload == "index_store":
        return data, sum(datagen.index_store_inputs(
            args.seed, out_dir=data, cells=STORE_CELLS, **STORE).values())
    if not args.tables:
        raise SystemExit("relational reads the sf0.1 harness tables: pass --tables <dir>")
    tables = os.path.abspath(args.tables)
    return tables, sum(pq.read_metadata(os.path.join(tables, f"{t}.parquet")).num_rows
                       for t in datagen.TABLES)


def run(args, classpath, run_dir, t_setup):
    """One run in `run_dir`: inputs, the benchmark JVM, the oracle check.
    Returns the full record and the contract result."""
    data, out, tmp = (os.path.join(run_dir, d) for d in ("data", "out", "tmp"))
    for d in (out, tmp):
        os.makedirs(d)
    data, input_rows = inputs(args, data)
    log(f"inputs written: {input_rows} rows")
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"))
    cmd = ["java"] + JVM_FLAGS + [
        f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
        f"workload={args.workload}", f"seed={args.seed}", f"seconds={args.seconds}",
        f"trace={args.trace}", f"data={data}", f"out={out}",
        f"cores={cores}", f"cells={STORE_CELLS}"]
    t_launch = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jvm_log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jvm_log, stderr=jvm_log, env=env)
        try:
            rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t_setup)))
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    with open(os.path.join(run_dir, "jvm.log")) as f:
        jvm_log = f.read()
    if rc != 0:
        sys.stderr.write(jvm_log[-4000:])
        raise RuntimeError(f"benchmark JVM exited with {rc}")
    sys.stderr.writelines(ln + "\n" for ln in jvm_log.splitlines()
                          if ln.startswith("[perfbench jvm"))
    log("benchmark JVM finished")
    rec = json.load(open(os.path.join(out, "record.json")))

    if os.path.exists(os.path.join(out, "oracle", "oracle_sql.json")):
        oracle, report = oracle_failures(data, os.path.join(out, "oracle"))
        sys.stderr.write(report)
        log("oracle check finished")
        for o in rec["ops"]:
            if o["name"] in oracle and o["error"] is None:
                o["error"], o["dur_s"] = oracle[o["name"]], None

    setup_s = (t_launch - t_setup) + rec["first_op_jvm_s"]
    e2e = metrics.end_to_end(rec, setup_s, input_rows)
    layer = metrics.per_layer(rec) if args.trace else {}
    attempted, failed = metrics.failures(rec)
    ok_n = sum(1 for o in rec["ops"]
               if o["dur_s"] is not None and o["kind"] in metrics.REQUEST_KINDS)
    record = {
        "nproc": cores, "jvm_flags": rec["jvm_flags"],
        "setup_parts_s": {"inputs": t_launch - t_setup, "session": rec["session_jvm_s"],
                          "warm_up": rec["warm_up_s"],
                          "workload": rec["first_op_jvm_s"] - rec["session_jvm_s"]
                          - rec["warm_up_s"]},
        "checks_s": time.time() - t_launch - rec["first_op_jvm_s"] - sum(rec["pass_wall_s"]),
        "passes": len(rec["pass_wall_s"]), "pass_wall_s": rec["pass_wall_s"],
        "op_s_by_name": metrics.op_medians(rec), "op_samples": ok_n,
        "op_samples_beyond_p90": metrics.samples_beyond(ok_n, 0.9) if ok_n else 0,
        "failed_ratio": failed / attempted if attempted else 1.0,
        "failures": sorted({f'{o["name"]}: {o["error"]}' for o in rec["ops"]
                            if o["error"] is not None}),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **layer}.items()},
    }
    chosen = layer if args.trace else e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    return record, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tables", help="relational only: directory of the sf0.1 harness tables")
    args = ap.parse_args()
    load_start = os.getloadavg()[0]
    classpath = build.build()
    t_setup = time.time()
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "git_commit": git_commit(),
              "source_hash": build.source_hash(), "build_s": t_setup - T_START,
              "load_start": load_start}
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    result = None
    try:
        more, result = run(args, classpath, run_dir, t_setup)
        record.update(more)
    except Exception as e:
        record["error"] = repr(e)
        raise
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        record["load_end"] = os.getloadavg()[0]
        os.makedirs(RUNS, exist_ok=True)
        with open(os.path.join(RUNS, "records.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
