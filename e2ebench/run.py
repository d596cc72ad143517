#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run, in one JVM.

    python3 e2ebench/run.py --workload <eda_pipeline|query_mix>
        --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the repository root. The first run builds the engine and the
benchmark driver from source with sbt (the classpath is cached under
e2ebench/target and rebuilt when any source changes). Each run makes
its inputs from --seed, stages them, measures in a closed loop for
--seconds, checks every output, and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
--smoke shrinks query_mix to a few seconds of work.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "e2ebench-classpath.txt")
WORK_ROOT = os.path.join(ROOT, ".e2ebench_work")
WORKLOADS = ("eda_pipeline", "query_mix")
# a run must end within 3 minutes
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
# query_mix table scale (1.0 ≈ TPC-H sf0.01), and the corpus its rolling
# ingest splits into batches (one per pass; a traced run makes four passes)
QUERY_SCALE, QUERY_SCALE_SMOKE = 0.5, 0.2
INGEST_DOCS, INGEST_DOCS_SMOKE, INGEST_BATCHES = 400, 120, 4
JVM_HEAP = "3g"
# C1 only: in a one-minute run the C2 compiler threads' CPU varied most
# between identical runs (pipeline CPU spread 11% with C2, 5% without)
JVM_JIT = "-XX:TieredStopAtLevel=1"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg: str) -> None:
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def fail(msg: str, code: int = 2) -> None:
    log(msg)
    sys.exit(code)


def spark_home() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return home


def source_stamp() -> str:
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build() -> str:
    """Classpath of the compiled engine + driver, building if stale."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    log("building engine and benchmark driver with sbt")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")  # everything comes from the local cache
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("/"):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java executable: set JAVA_HOME")
    return exe


def run_jvm(cp: str, args, work: str, deadline: float) -> dict:
    cmd = [java()] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{JVM_HEAP}", JVM_JIT, f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graftbench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as out:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(f"{work}/result.json"):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail("benchmark JVM timed out" if code is None else f"benchmark JVM exited {code}")
    with open(f"{work}/result.json") as f:
        return json.load(f)


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name in ("spark.cpu_util", "trace_overhead"):
        return "ratio"
    return "count"


def main() -> None:
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
             "run from a full checkout")

    cp = build()
    # the build above is not part of a run
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        sys.path.insert(0, HERE)
        import checks
        import gen
        inputs = os.path.join(work, "inputs")
        os.makedirs(inputs)
        t = time.process_time()  # set-up is CPU seconds, like the JVM's part
        if a.workload == "query_mix":
            gen.generate(inputs, a.seed, QUERY_SCALE_SMOKE if a.smoke else QUERY_SCALE)
            gen.ingest_batches(os.path.join(inputs, "ingest"), a.seed,
                               INGEST_DOCS_SMOKE if a.smoke else INGEST_DOCS, INGEST_BATCHES)
        gen_cpu = time.process_time() - t
        r = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--inputs", inputs, "--work", work,
                         "--smoke", "1" if a.smoke else "0"],
                    work, deadline)
        r["e2e"]["setup_s"] += gen_cpu
        ci = r["check_inputs"]
        if a.workload == "query_mix":
            extra = checks.query_oracles(ci["dump_dir"], ci["inputs"])
        else:
            extra = checks.eda_outputs(ci["fixture"], ci["eda_out_dirs"].split(","))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = [tuple(f) for f in r["failures"]] + extra
    # an operation whose output failed a DuckDB check fails every time it ran
    bad = {n for n, _ in extra}
    attempted = sum(n_all for n_all, _ in r["ops"].values())
    failed = sum(n_all if name in bad else n_bad for name, (n_all, n_bad) in r["ops"].items())
    for name, reason in failures:
        log(f"FAILED {name}: {reason}")
    log(f"{a.workload}: {r['units']} units, cpus={r['cpus']}, "
        f"error_rate={failed / attempted:.4f} ({failed}/{attempted})")
    metrics = r["layers"] if a.trace else r["e2e"]
    print(json.dumps({
        "correct": not failures and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
