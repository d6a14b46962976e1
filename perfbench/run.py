#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics as one JSON line.

Usage, from the root of a checkout of the repository:

    python3 perfbench/run.py --workload lake_sync|lake_metadata|query_mix \
        --seed N --seconds S --trace 0|1 [--size full|tiny] [--corrupt KIND]

The first run builds graft and the benchmark from source with sbt (the
build in perfbench/), later runs reuse the build while the sources are
unchanged. Each run generates its fixtures from the seed under
.bench_build/work/, starts one JVM (perfbench.Main), checks every
output, removes the fixtures and prints, as its last stdout line:

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. The exit code is 1 when any output check
failed, 2 when the run could not be made at all. --size tiny and
--corrupt are for the self-test (selftest.py).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import fixtures  # noqa: E402

WORKLOADS = ("lake_sync", "lake_metadata", "query_mix")
CORRUPTIONS = ("skip_sync", "drop_acl", "drop_row")
# Same module opens as the program's own build.sbt (Spark 4 on JDK 17
# outside spark-submit); a fixed heap with pre-touched pages keeps GC
# and page faults out of the measured windows.
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
# Fixture generation is repeated and its median enters setup_s.
FIXTURE_REPEATS = 3
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        die(f"{cmd[0]} ran over {timeout:.0f} s and was stopped")
    return proc.returncode, out


def pid_alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def sources_stamp():
    h = hashlib.sha256()
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/**/*"]
    for f in sorted({f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)}):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile graft and the benchmark unless the sources are unchanged."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        die(f"no program sources under {ROOT}: run from the root of a repository checkout")
    stamp_file = os.path.join(BUILD, "build.json")
    stamp = sources_stamp()
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            built = json.load(f)
        if built["stamp"] == stamp:
            return built["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"] if os.path.isfile(repos) else [])))
    rc, out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    lines = out.splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if rc != 0 or not cp:
        die("build failed:\n" + "\n".join(lines[-30:]))
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, f)
    return cp[-1]


def check_queries(work, corrupt):
    """Compare the warm pass's outputs with their DuckDB oracles, the way
    tools/check_correctness.py does. Returns (checks, failures)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    from check_correctness import cmp, norm

    con = duckdb.connect()
    for p in glob.glob(os.path.join(work, "data", "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = os.path.join(work, "query_out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures = []
    for i, (name, sql) in enumerate(sorted(oracles.items())):
        got = pd.read_parquet(os.path.join(out, name))
        if corrupt == "drop_row" and i == 0:
            got = got.iloc[1:]
        err = cmp(norm(got), norm(con.execute(sql).fetchdf()))
        if err:
            failures.append(f"{name} differs from its oracle: {err}")
    return len(oracles), failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=sorted(fixtures.SIZES))
    ap.add_argument("--corrupt", default="", choices=("",) + CORRUPTIONS)
    a = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        die(f"cannot read BENCHMARK.json: {e}")
    cp = classpath()

    runs = os.path.join(BUILD, "work")
    for old in glob.glob(os.path.join(runs, "*-*-*")):  # left by a run that was killed
        if not pid_alive(int(old.rsplit("-", 1)[1])):
            shutil.rmtree(old, ignore_errors=True)
    work = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen_s = []
        for _ in range(FIXTURE_REPEATS):
            t0 = time.perf_counter()
            fixtures.generate(a.workload, work, a.seed, a.size)
            gen_s.append(time.perf_counter() - t0)
        fixture_s = statistics.median(gen_s)

        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        result_file = os.path.join(work, "result.json")
        log_file = os.path.join(work, "jvm.log")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
        with open(log_file, "w") as log:
            rc, _ = run_bounded(
                [java, *JVM_FLAGS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
                 "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", a.trace, "--work", work, "--out", result_file]
                + (["--corrupt", a.corrupt] if a.corrupt else []),
                RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
        if rc != 0 or not os.path.isfile(result_file):
            with open(log_file) as f:
                die(f"JVM exited with {rc}:\n" + "".join(f.readlines()[-40:]))
        with open(result_file) as f:
            r = json.load(f)
        failures = list(r["failures"])
        attempted = int(r["attempted"])
        if a.workload == "query_mix" and os.path.isfile(os.path.join(work, "query_out", "oracle_sql.json")):
            n, fails = check_queries(work, a.corrupt)
            attempted += n
            failures += fails
    finally:
        shutil.rmtree(work, ignore_errors=True)

    layers = r["layers"]
    measured = {
        "setup_s": fixture_s + r["session_s"] + r["prep_s"] + r["warm_s"],
        "cycle_s_p50": r["cycle_s_p50"],
        "items_per_s": r["items_per_s"],
    }
    chosen = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    metrics = {m["name"]: {"value": measured[m["name"]] if a.trace == "0" else layers.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in chosen}
    for msg in failures:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(json.dumps({"fixture_s": fixture_s, **{k: v for k, v in r.items() if k not in ("layers", "failures")}}))
    print(json.dumps({"correct": not failures, "attempted": max(1, attempted), "failed": len(failures),
                      "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
