#!/usr/bin/env python3
"""Benchmark of the ifrit dialect compiler and the curation operators.

Usage, from the repository root:

    python3 ifritbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (their reasons are recorded in BENCHMARK.json and NOTES.md):
  compile  Compiler.compileJson on the reference's Benchmark.js schema and
           five queries; no Spark.
  spark    10 dialect statements (Compiler.query + a noop sink) over the
           program's sf0.1 test tables, and 8 curation operators (+ a parquet
           sink), each over its own seeded 90% slice of a fixed
           300-document sample of the sf0.1 document corpus.

The tables and the corpus are the program's sf0.1 test data, kept as they
are under `ifritbench/data/`.

The first run builds the benchmark and the program's main sources with sbt
(`ifritbench/build.sbt`) and later runs reuse the build while the sources are
unchanged. Each run cuts its corpus slices from the seed with DuckDB, runs the
workload in fresh JVMs (one client, closed loop, Spark `local[k]` with
k = min(2, nproc), heap pinned), checks every timed op's output (compile:
the expected output schema; spark: the DuckDB oracle), prints a record of
the run, and prints as its last line
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402

# Per workload: untimed warm-up passes before the window, JVMs per run
# (`forks`, each measuring seconds / forks) and the inputs. The heap is
# pinned (-Xms = -Xmx): with a growing heap, pass times kept falling for many
# passes (NOTES.md). Spark runs local[2], leaving two vCPUs to the JIT and GC.
WORKLOADS = {
    "compile": {"warmup": 2000, "forks": 5},
    "spark": {"warmup": 1, "docs": 300, "share": 0.9, "slices": 24},
}
HEAP = "2g"
CORES = min(2, os.cpu_count() or 1)
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"ifritbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build(stamp):
    """The runtime classpath, building first when the sources changed."""
    target = os.path.join(HERE, "target")
    cp_file, stamp_file = os.path.join(target, "classpath.txt"), os.path.join(target, "bench-stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("neither SPARK_HOME nor spark-submit on PATH names a Spark installation", 1)
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    tmp = os.path.join(target, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = env.get("SBT_OPTS", "-Dsbt.offline=true") + f" -Djava.io.tmpdir={tmp}"
    rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"], BUILD_LIMIT_S,
                   cwd=HERE, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (sbt exit {rc})", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def make_inputs(workload, seed, data):
    """Write the workload's seeded corpus slices to `data`; returns the
    tables it reads (name -> file) and the row and byte counts of all its
    input files."""
    cfg = WORKLOADS[workload]
    if "docs" not in cfg:
        return {}, None
    con = duckdb.connect()
    slices = inputs.write_slices(con, seed, cfg["docs"], cfg["share"], cfg["slices"], data)
    tables = inputs.tables()
    return tables, inputs.table_stats(con, [*tables.values(), *slices])


def run_jvm(a, cp, work, data, fork, forks, t_start):
    """One JVM measuring `a.seconds / forks` of the workload; its result file."""
    out = os.path.join(work, f"result{fork}.json")
    jvm_flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
                 "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                 f"-Dspark.local.dir={work}/spark", f"-Djava.io.tmpdir={work}/tmp",
                 f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    cmd = ["java", *jvm_flags, "-cp", cp, "ifritbench.Main",
           "--workload", a.workload, "--seed", str(a.seed * forks + fork),
           "--seconds", str(a.seconds / forks), "--trace", str(a.trace),
           "--warmup", str(WORKLOADS[a.workload]["warmup"]), "--tables", inputs.DATA,
           "--data", data, "--out", out]
    rc = run_group(cmd, RUN_LIMIT_S - (time.time() - t_start), cwd=work, env=env,
                   stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isfile(out):
        fail(f"benchmark JVM failed (exit {rc})", 1)
    with open(out) as f:
        return json.load(f)


def over_forks(name, values):
    """`setup_s` as the median of the forks' set-ups; any other figure as
    the mean over forks. The JIT settles each JVM at one of two speeds (the
    `compile` ops' latency ≈ 105 µs or ≈ 145 µs), and a median over a few
    forks jumps between the two; the mean moves by one fork's share."""
    return (statistics.median if name == "setup_s" else statistics.mean)(values)


def merge(results):
    """One result from the forks': each figure combined by `over_forks`,
    ops and counts pooled."""
    if len(results) == 1:
        return results[0]
    first = results[0]
    metrics = {name: {"value": over_forks(name, [r["metrics"][name]["value"] for r in results]),
                      "unit": m["unit"]} for name, m in first["metrics"].items()}
    window = {key: sum(r["window"].get(key, 0) for r in results)
              for key in ("attempted", "failed", "traced_attempted", "traced_failed")}
    window["forks"] = [dict(r["window"], metrics=r["metrics"]) for r in results]
    merged = dict(first, metrics=metrics, window=window)
    if "measured" in first:
        merged["measured"] = {k: over_forks(k, [r["measured"][k] for r in results])
                              for k in first["measured"]}
    return merged


def git_stamp():
    def git(*a):
        r = subprocess.run(["git", *a], cwd=ROOT, capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else None
    sha = git("rev-parse", "HEAD")
    status = git("status", "--porcelain") if sha else None
    return {"git_sha": sha, "git_dirty": None if sha is None else bool(status)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Compiler.scala")):
        fail("the program's sources (src/main/scala) are not beside ifritbench/; "
             "run from the root of a checkout of the repository")
    with open(spec_path) as f:
        spec = json.load(f)

    stamp = source_hash()
    cp = build(stamp)
    t_start = time.time()

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    data = os.path.join(work, "inputs")
    for d in (data, os.path.join(work, "tmp"), os.path.join(work, "spark")):
        os.makedirs(d, exist_ok=True)
    try:
        tables, input_stats = make_inputs(a.workload, a.seed, data)
        t_inputs = time.time()
        forks = WORKLOADS[a.workload].get("forks", 1)
        results = [run_jvm(a, cp, work, data, f, forks, t_start) for f in range(forks)]
        result = merge(results)
        t_jvm = time.time()

        # untimed: every timed op's output against the oracle
        failures = checks.check_spark(result, tables) if a.workload == "spark" else []
        t_checks = time.time()
        win = result["window"]
        attempted = win["attempted"] + win.get("traced_attempted", 0)
        jvm_failed = win.get("failed", 0) + win.get("traced_failed", 0)
        failed = jvm_failed + len(failures)

        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        got = result["metrics"]
        unknown = sorted(set(got) - {m["name"] for m in spec["per_layer"] + spec["end_to_end"]})
        if unknown:
            fail(f"metrics missing from BENCHMARK.json: {unknown}", 1)
        metrics, not_applicable = {}, []
        for m in wanted:
            if m["name"] in got:
                metrics[m["name"]] = got[m["name"]]
            elif a.trace:
                # a layer this workload does not pass through
                metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
                not_applicable.append(m["name"])
            else:
                fail(f"end-to-end metric {m['name']} not measured", 1)

        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            **git_stamp(), "source_sha256": stamp,
            "nproc": os.cpu_count(), "k": CORES, "jvm": result.get("stamp"),
            "session_s": result.get("session_s"),
            "config": WORKLOADS[a.workload],
            "inputs": input_stats or result["inputs"],
            "window": win, "check_failures": failures[:20],
            "op_ms": [[o["item"], o["ms"]] for o in result.get("ops", [])],
            "phase_s": {"inputs": t_inputs - t_start, "jvm": t_jvm - t_inputs,
                        "checks": t_checks - t_jvm},
            "not_applicable": not_applicable,
            "metrics": got, "measured": result.get("measured"),
        }
        print(json.dumps({"record": record}, sort_keys=True))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
