#!/usr/bin/env python3
"""Benchmark of the graft Spark sketch library.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the library and the harness from source (see build.py), then runs
one workload in a fresh JVM at local[nproc], Spark's default settings, with
one caller thread issuing each query only after the previous one collected
(a closed loop). The seed makes the inputs. Results are checked outside the
timed region; an operation that throws or fails a check counts as failed
and is never a timing sample.

Workloads:
  lang_distinct   groupBy(lang).agg(ce_approx_distinct(url)) over a
                  PagesTable parquet: 40 zipf-skewed groups, all HLL
  site_cube       groupBy(site, day).agg(ce_sketch(url)) written as a stored
                  sketch table, then ce_merge_estimate rollups per site and
                  per day; site is heavy-tailed
  gate_suite      passes over a sample of SparkEntry gates on the bundled
                  fixture tables, checked against their DuckDB oracles

--trace 0 prints the end-to-end metrics; --trace 1 records spans (run,
iteration, operation, Spark job, stage, direct library call), reads SQL
metrics from each executed plan, runs the layer ladder, and prints the
per-layer metrics. The last line of output is one JSON object with
"correct", "attempted", "failed" and "metrics".
"""
import argparse
import datetime
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import build  # noqa: E402

WORKLOADS = ("lang_distinct", "site_cube", "gate_suite")
FIXTURES = os.path.join(HERE, "fixtures", "gates")
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return " ".join(fh.read().split()[:3])
    except OSError:
        return "unknown"


def cpu_times():
    """Aggregate (steal, total) jiffies of the host, or None."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return vals[7], sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, work, args, cores, log_path):
    out = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Xms2g", "-Xmx2g", "-Djava.io.tmpdir=" + tmp, "-Djava.awt.headless=true",
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores),
            "--work", work, "--fixtures", FIXTURES, "--out", out]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("benchmark JVM exceeded %d s" % JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError("benchmark JVM exited with %d:\n%s" % (rc, tail))
    with open(out) as fh:
        return json.load(fh)


def oracle_value(v):
    # Spark writes day-truncated values as TIMESTAMP, DuckDB as DATE: print
    # both as "YYYY-MM-DD HH:MM:SS[.ffffff]".
    if isinstance(v, datetime.datetime):
        base = v.strftime("%Y-%m-%d %H:%M:%S")
        return base + (".%06d" % v.microsecond if v.microsecond else "")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d") + " 00:00:00"
    return str(v)


def canonical(rel):
    cols = [d[0] for d in rel.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(oracle_value(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], rows


def check_gates(work, gates):
    """Compares the warm-up results of each gate with its oracleSql run in
    DuckDB over the fixture tables: column names and sorted stringified rows
    must match. Returns the gates that failed and those with no oracle."""
    import duckdb

    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for f in sorted(os.listdir(FIXTURES)):
        if f.endswith(".parquet"):
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (f[:-8], os.path.join(FIXTURES, f)))
    failed, unchecked, notes = [], [], []
    for name in gates:
        if name not in oracle:
            unchecked.append(name)
            continue
        try:
            got = canonical(con.execute("SELECT * FROM '%s/*.parquet'" % os.path.join(work, "gate-results", name)))
            want = canonical(con.execute(oracle[name]))
            if got != want:
                failed.append(name)
                notes.append("%s: result differs from its oracle" % name)
        except Exception as e:  # a missing result or a bad query fails the gate
            failed.append(name)
            notes.append("%s: %s" % (name, str(e).splitlines()[0]))
    con.close()
    return failed, unchecked, notes


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)

    load_start = loadavg()
    cpu_start = cpu_times()
    try:
        classes = build.ensure_built()
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2
    if not os.path.isdir(FIXTURES):
        print("perfbench: fixture tables %s missing" % FIXTURES, file=sys.stderr)
        return 2

    cores = nproc()
    logs = os.path.join(build.build_dir(), "logs")
    os.makedirs(logs, exist_ok=True)
    work = os.path.join(build.build_dir(), "work", "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.monotonic()
        raw = run_jvm(classes, work, args, cores, os.path.join(logs, args.workload + ".log"))
        failed_names, unchecked, notes = [], [], []
        if args.workload == "gate_suite":
            gates = sorted({op["name"] for op in raw["ops"]})
            failed_names, unchecked, notes = check_gates(work, gates)
        attempted, failed, e2e, errors, iter_s = benchlib.end_to_end(raw, failed_names)
        metrics = benchlib.per_layer(raw, failed_names) if args.trace else e2e
        wall = time.monotonic() - t0
    except (RuntimeError, ValueError, KeyError, OSError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    cpu_end = cpu_times()
    steal = None
    if cpu_start and cpu_end and cpu_end[1] > cpu_start[1]:
        steal = round((cpu_end[0] - cpu_start[0]) / (cpu_end[1] - cpu_start[1]), 4)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": cores,
        "versions": raw["versions"], "loadavg_start": load_start, "loadavg_end": loadavg(),
        "cpu_steal_frac": steal,
        "input_rows": raw["input_rows"], "inputs": raw["inputs"], "iterations": raw["iterations"],
        "iter_s": [round(x, 4) for x in iter_s], "setup_reps_s": raw["setup_reps_s"], "warmup_s": raw["warmup_s"],
        "unchecked": unchecked, "wall_s": round(wall, 3),
        "rows_per_s_untraced" if not args.trace else "rows_per_s_traced": e2e["rows_per_s"]["value"],
    }
    for line in notes + errors[:20]:
        print("perfbench: failure: %s" % line)
    for name in unchecked:
        print("perfbench: unchecked: %s has no oracle; only its repeatability was checked" % name)
    print("perfbench: info %s" % json.dumps(info, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
