#!/usr/bin/env python3
"""The engine's benchmark: one command for its two workloads, the declared
queries and the ODS import with Task writeback.

Usage (from the repository root):
  python3 perfbench/run.py --workload queries|pipeline \
      --seed N --seconds S --trace 0|1

Builds the engine and the harness from source on first use, runs one
measured JVM, checks every output, and prints as its last line
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).
The line before it is a {"context": ...} object: host speed, sample
counts and the traced run's end-to-end figures. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

# The query workload: short relational queries, where session, planning,
# scan and shuffle carry the time, and corpus queries, where the fused
# expressions and the candidate-pair operators do.
RELATIONAL = ["q25_json", "q122_funnel"]
CORPUS = ["q34_jaccard_pairs", "q37_simhash", "q95_int8_quant",
          "q134_image_dup"]
WORKLOADS = {"queries": RELATIONAL + CORPUS, "pipeline": []}
# (set-ups per run, warm set-ups per timed block); `setup_s` is the median
# of the first set-up and the block means. A query set-up re-caches the
# tables (seconds); a pipeline one only restarts the session (a tenth of a
# second), so it is timed 24 times in blocks of 4.
SETUPS = {"queries": (3, 1), "pipeline": (25, 4)}

# Queries whose disagreement with the oracle is a known program fault
# (CHANGES.md FOUND lines): counted as failed, not as a wrong result.
KNOWN_FAULTS: set = set()

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 160
LAYOUT_ROOT = os.path.join(HERE, ".cache", "layout")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash() -> str:
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(log_dir: str) -> str:
    """Compiles the engine and the harness unless the sources are unchanged
    since the last build; returns the classes directory."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    want = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == want \
            and os.path.isdir(classes):
        return classes
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(log_dir, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not finish: {e}")
    if rc != 0:
        fail(f"build failed, see {log}")
    with open(stamp, "w") as fh:
        fh.write(want)
    return classes


def spark_jars() -> str:
    for d in [os.environ.get("SPARK_JARS"),
              os.path.join(os.environ.get("SPARK_HOME", ""), "jars"),
              "/opt/spark/jars"]:
        if d and os.path.isdir(d):
            return d
    fail("no Spark jars found (set SPARK_JARS)")


def jvm(classes: str, run_dir: str, cpus: int, args: list, log: str,
        timeout: float) -> None:
    """Runs one engine JVM with the benchmark's fixed settings and waits
    for it; exits the benchmark if it fails or overruns."""
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Dderby.system.home={run_dir}",
        # bounded status history: the retained-job state would otherwise
        # grow with the number of queries run, so with the run's length
        "-Dspark.ui.retainedJobs=1", "-Dspark.ui.retainedStages=1",
        "-Dspark.ui.retainedTasks=1", "-Dspark.sql.ui.retainedExecutions=1",
        "-cp", f"{classes}:{spark_jars()}/*", "perfbench.Main",
        "--out", run_dir, "--cpus", str(cpus),
        "--layout-root", LAYOUT_ROOT,
    ] + args
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd + ["--spawn-ns", str(time.time_ns())],
                                cwd=run_dir, env=env, stdout=fh,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the engine JVM ran past {timeout:.0f} s, see {log}")
    if rc != 0:
        print(open(log, errors="replace").read()[-3000:], file=sys.stderr)
        fail(f"the engine JVM exited with {rc}, see {log}")


def ensure_layout(classes: str, runs: str, cpus: int, sf_dir: str) -> None:
    """Builds the re-laid fixture the query workloads read, once per
    fixture and core count, before any timing."""
    sig = hashlib.sha256()
    for d, _, names in sorted(os.walk(sf_dir)):
        for n in sorted(names):
            st = os.stat(os.path.join(d, n))
            sig.update(f"{d}/{n}:{st.st_size}:{st.st_mtime_ns}".encode())
    stamp = os.path.join(LAYOUT_ROOT,
                         f"{os.path.basename(sf_dir)}-c{cpus}.stamp")
    if os.path.exists(stamp) and open(stamp).read() == sig.hexdigest():
        return
    os.makedirs(LAYOUT_ROOT, exist_ok=True)
    run_dir = os.path.join(runs, "layout")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jvm(classes, run_dir, cpus, ["--workload", "layout", "--seed", "0",
        "--seconds", "0", "--trace", "0", "--sf-dir", sf_dir],
        os.path.join(run_dir, "jvm.log"), 600)
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(sig.hexdigest())


def run_jvm(classes: str, run_dir: str, a, cpus: int, sf_dir: str) -> dict:
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--sf-dir", sf_dir, "--scale", a.scale,
            "--setups", str(SETUPS[a.workload][0]),
            "--setup-block", str(SETUPS[a.workload][1])]
    if a.trace:
        # enough poll cycles for a tail
        args += ["--min-cycles", str(stats.TAIL_MIN_SAMPLES)]
    if WORKLOADS[a.workload]:
        args += ["--queries", ",".join(WORKLOADS[a.workload])]
    jvm(classes, run_dir, cpus, args, os.path.join(run_dir, "jvm.log"),
        RUN_TIMEOUT_S)
    return json.load(open(os.path.join(run_dir, "result.json")))


def check_queries(res: dict, sf_dir: str, run_dir: str):
    """Compares each query's result with its DuckDB oracle digest. Returns
    (wrong, faulty): queries that disagree unexpectedly, and known-fault
    queries that disagree (counted as failed)."""
    import duckdb
    import canon
    import oracle
    sqls = res["extra"]["oracle_sql"]
    queries = list(res["extra"]["exec_counts"])
    missing = [q for q in queries if q not in sqls]
    if missing:
        fail(f"queries without an oracle: {missing}")
    sql_json = os.path.join(run_dir, "oracle_sql.json")
    with open(sql_json, "w") as fh:
        json.dump(sqls, fh)
    digest_dir = os.path.join(HERE, ".cache", "oracle")

    def digest_path(q):
        return os.path.join(digest_dir, oracle.key(sf_dir, sqls[q]) + ".json")
    if not all(os.path.exists(digest_path(q)) for q in queries):
        rc = subprocess.run([sys.executable, os.path.join(HERE, "oracle.py"),
                             sf_dir, sql_json, digest_dir],
                            stdin=subprocess.DEVNULL, timeout=600).returncode
        if rc != 0:
            fail("the DuckDB oracle command failed")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    wrong, faulty = {}, {}
    for q, msg in res["extra"]["threw"].items():
        (faulty if q in KNOWN_FAULTS else wrong)[q] = f"threw: {msg}"
    for q in queries:
        if q in res["extra"]["threw"]:
            continue
        want = json.load(open(digest_path(q)))
        got = canon.digest(con.sql(
            f"SELECT * FROM '{res['extra']['check_dir']}/{q}/*.parquet'").df())
        diff = canon.compare(want, got)
        if diff:
            (faulty if q in KNOWN_FAULTS else wrong)[q] = diff
    return wrong, faulty


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", default="0.1", help="fixture scale factor")
    p.add_argument("--scale", default="full", choices=["full", "tiny"],
                   help="pipeline input size")
    p.add_argument("--data", default=os.environ.get(
        "PERFBENCH_DATA", os.path.expanduser("~/testdata")),
        help="directory holding the sf* fixtures")
    a = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no engine sources under {ROOT}/src/main/scala")
    sf_dir = os.path.join(os.path.abspath(a.data), f"sf{a.sf}")
    if not os.path.isdir(sf_dir):
        fail(f"fixture {sf_dir} not found (set --data or PERFBENCH_DATA)")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    runs = os.path.join(HERE, ".runs")
    os.makedirs(runs, exist_ok=True)
    classes = build(runs)

    run_dir = os.path.join(runs, f"{a.workload}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus = max(1, min(os.cpu_count() or 1, len(os.sched_getaffinity(0))))
    if WORKLOADS[a.workload]:
        ensure_layout(classes, runs, cpus, sf_dir)
    host_speed = stats.host_speed()
    res = run_jvm(classes, run_dir, a, cpus, sf_dir)

    attempted, failed = res["attempted"], res["failed"]
    problems = [f"{c['name']}: {c['detail']}" for c in res["checks"]
                if not c["ok"]]
    context = {"workload": a.workload, "seed": a.seed, "cpus": cpus,
               "host_speed_s": host_speed}
    if WORKLOADS[a.workload]:
        t0 = time.monotonic()
        wrong, faulty = check_queries(res, sf_dir, run_dir)
        context["check_s"] = round(time.monotonic() - t0, 3)
        problems += [f"{q}: {d}" for q, d in wrong.items()]
        counts = res["extra"]["exec_counts"]
        # the JVM already counted the runs of queries that threw
        failed += sum(counts[q] for q in faulty
                      if q not in res["extra"]["threw"])
        context["oracle_known_faults"] = faulty
        context["threw"] = res["extra"]["threw"]
        context["seq_passes"] = res["extra"]["seq_passes"]
        context["conc_rounds"] = res["extra"]["conc_rounds"]
    else:
        cycles = res["extra"]["cycle_samples_s"]
        context["epochs"] = res["extra"]["epochs"]
        context["cycles"] = len(cycles)
        if a.trace:
            tail = stats.tail(cycles)
            if tail is None:
                fail(f"{len(cycles)} poll cycles are too few for a tail")
            res["layers"]["streaming.cycle_tail_s"] = {"value": tail[1]}
            context["cycle_tail"] = {"percentile": tail[0],
                                     "samples": len(cycles)}
    context["setup_samples_s"] = res["extra"]["setup_samples_s"]
    if problems:
        context["problems"] = problems[:20]
        for pr in problems[:20]:
            print(f"perfbench: check failed: {pr}", file=sys.stderr)

    def metric(name, unit, source):
        v = source.get(name)
        return {"value": v["value"] if v else 0.0, "unit": unit}
    if a.trace:
        metrics = {m["name"]: metric(m["name"], m["unit"], res["layers"])
                   for m in spec["per_layer"]}
        context["traced_e2e"] = {k: v["value"] for k, v in res["e2e"].items()}
    else:
        metrics = {m["name"]: metric(m["name"], m["unit"], res["e2e"])
                   for m in spec["end_to_end"]}
    # the run directory keeps the span file and logs, not the bulky outputs
    for d in ["check", "local", "warehouse", "tmp"]:
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
