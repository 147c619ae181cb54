#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (perfbench/build.sh;
after a build, the first run also makes the JVM's class-data archive),
runs the workload in one JVM on a local Spark session, checks its
outputs, and prints one JSON line last:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end ones. With
--trace 1 the metrics are the per_layer ones, and the tracing overhead
compares the traced run with an untraced run of the same code and
seed: the one this checkout made earlier
(.bench_out/untraced-<workload>-seed<n>-<source digest>.json), or else
one made first in the same invocation. The traced run's spans go to
.bench_out/trace-<workload>-seed<n>.json. Outputs with oracle SQL are
checked against DuckDB. Every temporary tree lives under .bench_tmp/
and is deleted before the command exits.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import lib  # noqa: E402

WORKLOADS = ["wordcount_stream", "table_churn", "curate_build"]
SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
# the whole command must end within 180 s once the program is built
RUN_BUDGET_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def run_child(cmd, log_path, timeout, cwd=None):
    """Run `cmd` in its own process group, output to `log_path`; kill
    the whole group on timeout and wait for it. Returns the exit code."""
    with open(log_path, "ab") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=cwd,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def oracle_check(o):
    """Run one oracle's SQL in DuckDB over the run's input parquet
    files and compare with the Spark output, column by column, on
    values rounded to 4 decimals. Returns (ok, detail)."""
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for name, path in o["tables"].items():  # Spark writes a directory of part files
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/*.parquet')" % (name, path))
        want = con.execute(o["sql"])
        cols = [d[0] for d in want.description]
        want = want.fetchall()
        got = con.execute("SELECT %s FROM read_parquet('%s/*.parquet')"
                          % (", ".join(cols), o["output"])).fetchall()
    finally:
        con.close()
    want, got = lib.normalized(want), lib.normalized(got)
    if want == got:
        return True, ""
    return False, "%d oracle rows, %d output rows; first differing: %s" % (
        len(want), len(got), next(((w, g) for w, g in zip(want, got) if w != g), None))


def java_cmd(root, work, workload, seed, seconds, traced, record, extra):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", "-XX:-UsePerfData", "-XX:CompileThresholdScaling=0.1", "-Xmx3g", "-Xss4m"]
            + extra + ["-Djava.io.tmpdir=" + os.path.join(work, "jtmp"),
                       "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS]
            + ["-cp", os.path.join(root, ".bench_build", "perfbench.jar") + ":" + SPARK_JARS + "/*",
               "perfbench.Main", workload, str(seed), str(seconds), "1" if traced else "0",
               work, record])


def class_archive(root, tmp, stamp):
    """JVM options that load the build's classes from a class-data
    archive, made once per build by a short run of every workload in
    one JVM. It cuts JVM start and the cold set-up by ~8 s a run. No
    options when the training run failed: the workloads then run
    without it, and report their own failures."""
    path = os.path.join(root, ".bench_build", "cds-%s.jsa" % stamp)
    failed = path + ".failed"
    if not os.path.exists(path) and not os.path.exists(failed):
        work = os.path.join(tmp, "train")
        os.makedirs(os.path.join(work, "jtmp"))
        cmd = java_cmd(root, work, "all", 0, 1, False, os.path.join(work, "record.json"),
                       ["-XX:ArchiveClassesAtExit=" + path])
        if run_child(cmd, os.path.join(tmp, "train.log"), 600, cwd=work) != 0 or not os.path.exists(path):
            sys.stderr.write(tail(os.path.join(tmp, "train.log")))
            print("perfbench: class archive training failed; running without it", file=sys.stderr)
            if os.path.exists(path):
                os.remove(path)
            open(failed, "w").close()
        shutil.rmtree(work, ignore_errors=True)
    return ["-XX:SharedArchiveFile=" + path] if os.path.exists(path) else []


def jvm_run(root, tmp, workload, seed, seconds, traced, timeout, extra):
    """One workload run in a fresh JVM; returns its record."""
    work = os.path.join(tmp, "work-traced" if traced else "work")
    os.makedirs(os.path.join(work, "jtmp"))
    record = os.path.join(work, "record.json")
    log = os.path.join(tmp, "jvm.log")
    cmd = java_cmd(root, work, workload, seed, seconds, traced, record, extra)
    rc = run_child(cmd, log, max(1.0, timeout), cwd=work)
    if rc != 0 or not os.path.exists(record):
        sys.stderr.write(tail(log))
        fail("%s run exited with %s" % (workload, rc))
    with open(record) as f:
        rec = json.load(f)
    # the oracles read the run's files, so they run before the tree goes
    for o in rec["oracles"]:
        ok, detail = oracle_check(o)
        rec["attempted"] += 1
        rec["checks"].append({"name": "oracle." + o["name"], "ok": ok, "detail": detail})
        if not ok:
            rec["failed"] += 1
            print("perfbench: oracle %s FAILED: %s" % (o["name"], detail), file=sys.stderr)
    return rec


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no program sources (src/main/scala/graft) under %s" % root)

    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(root, ".bench_tmp", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    os.makedirs(tmp)
    try:
        if run_child(["bash", os.path.join("perfbench", "build.sh")],
                     os.path.join(tmp, "build.log"), 280, cwd=root) != 0:
            sys.stderr.write(tail(os.path.join(tmp, "build.log")))
            fail("build failed")
        with open(os.path.join(root, ".bench_build", "stamp")) as f:
            stamp = f.read().strip()[:16]
        cds = class_archive(root, tmp, stamp)
        deadline = time.monotonic() + RUN_BUDGET_S
        # the untraced result of this code and seed, for the overhead
        cached = os.path.join(out_dir, "untraced-%s-seed%d-%s.json" % (args.workload, args.seed, stamp))
        runs = []
        if args.trace and os.path.exists(cached):
            with open(cached) as f:
                untraced = json.load(f)["cpu_ms_per_item"]
        else:
            runs.append(jvm_run(root, tmp, args.workload, args.seed, args.seconds, False,
                                deadline - time.monotonic(), cds))
            untraced = lib.end_to_end(runs[0])["cpu_ms_per_item"]
            with open(cached, "w") as f:
                json.dump({"cpu_ms_per_item": untraced}, f)
        if args.trace:
            runs.append(jvm_run(root, tmp, args.workload, args.seed, args.seconds, True,
                                deadline - time.monotonic(), cds))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".bench_tmp"))
        except OSError:
            pass

    rec = runs[-1]
    e2e = lib.end_to_end(rec)
    if args.trace:
        values = lib.per_layer(rec)
        values["trace.overhead_share"] = e2e["cpu_ms_per_item"] / untraced - 1.0
        declared = spec["per_layer"]
        with open(os.path.join(out_dir, "trace-%s-seed%d.json" % (args.workload, args.seed)), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "fields": ["id", "parent", "name", "start_ms", "end_ms"],
                       "spans": rec["spans"]}, f)
    else:
        values = e2e
        declared = spec["end_to_end"]

    metrics = {}
    for m in declared:
        v = values.get(m["name"])
        if v is None:
            fail("metric %s was not measured" % m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted = sum(int(r["attempted"]) for r in runs)
    failed = sum(int(r["failed"]) for r in runs)
    checks_ok = all(c["ok"] for r in runs for c in r["checks"])
    print(json.dumps({"correct": checks_ok and failed == 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
