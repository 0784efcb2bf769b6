"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload skew --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
runner with sbt (offline) into ``.bench_build``; later runs reuse the build
until a source file changes. Each run generates its inputs from the seed,
runs one JVM (``graft.perf.Runner``) on ``local[4]``, checks every output
against the DuckDB oracle with ``tools/local_oracle_check.py``, writes the
full result record to ``.bench_build/results/`` and prints a per-metric
table. The last line of standard output is the one-line JSON result.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics, the
per-layer self times and the tracing overhead.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

# The whole run must end within 180 s; the JVM gets what is left after
# input generation, minus a margin for the oracle check.
RUN_LIMIT_S = 175
ORACLE_MARGIN_S = 25

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")):
        if os.path.isfile(top):
            yield top
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)


def build():
    """Compile engine + runner once; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    newest = max(os.path.getmtime(p) for p in sources())
    if os.path.isfile(cp_file) and os.path.getmtime(cp_file) >= newest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL).returncode
    lines = open(log).read().strip().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        die(f"build failed (rc {rc}); see {log}", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def run_jvm(cp, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perf.Runner"] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def oracle_check(inputs, dump, deadline):
    """Runs the repository's oracle comparator; returns {query: failure}."""
    tool = os.path.join(ROOT, "tools", "local_oracle_check.py")
    try:
        out = subprocess.run([sys.executable, tool, inputs, dump], capture_output=True,
                             text=True, timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return None
    fails = {}
    for line in out.stdout.splitlines():
        name, sep, why = line.partition(": ")
        if sep and (why.startswith("FAIL") or why.startswith("ERR")):
            fails[name] = why
    if out.returncode != 0 or " oracled" not in out.stdout:
        return None
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/local_oracle_check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a full checkout", 2)
    cp = build()
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 30)  # a first build is not run time

    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    out = os.path.join(work, "out")
    os.makedirs(inputs)
    spec = metrics.WORKLOADS[a.workload]
    gen.generate(inputs, a.seed, spec["corpus"], spec["docs"])
    try:
        rc = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--inputs", inputs, "--out", out],
                     work, deadline - ORACLE_MARGIN_S)
        rec_path = os.path.join(out, "record.json")
        if rc != 0 or not os.path.isfile(rec_path):
            tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
            die(f"runner {'timed out' if rc is None else f'exited {rc}'}:\n{tail}", 4)
        rec = json.load(open(rec_path))
        fails = oracle_check(inputs, os.path.join(out, "dump"), deadline)
        if fails is None:
            die("oracle check did not complete", 5)
        result = metrics.evaluate(rec, fails)
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        stem = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(t_start * 1000)}"
        with open(os.path.join(BUILD, "results", stem + ".json"), "w") as f:
            json.dump(result, f, indent=1)
        if a.trace:
            shutil.copy(os.path.join(out, "spans.jsonl"),
                        os.path.join(BUILD, "results", stem + ".spans.jsonl"))
        metrics.print_report(result)
        print(json.dumps(metrics.contract_line(result, a.trace)))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
