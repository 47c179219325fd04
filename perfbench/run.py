#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <catalog_ops|scan_query|dml_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the benchmark (perfbench/build.sbt,
which compiles the repository's main sources together with the bench
classes) when the sources changed since the last build, runs one
workload in one JVM, and prints as its last stdout line one JSON object
with the keys correct, attempted, failed and metrics. With --trace 0 the
metrics are BENCHMARK.json's end_to_end ones; with --trace 1 its
per_layer ones. The full result, including the metrics a workload alone
reports, goes to perfbench/results/<workload>-seed<n>-trace<t>.json.
Exits non-zero on any failed statement or wrong result.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
CP_FILE = os.path.join(BUILD_DIR, "perfbench.classpath")
STAMP_FILE = os.path.join(BUILD_DIR, "perfbench.stamp")
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=3):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    dirs = [MAIN_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def build():
    if not os.path.isdir(MAIN_SRC) or not os.path.isfile(os.path.join(HERE, "build.sbt")):
        fail("main sources not found; run from the repository root")
    stamp = source_stamp()
    if os.path.isfile(CP_FILE) and os.path.isfile(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read() == stamp:
                with open(CP_FILE) as fc:
                    return fc.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dperfbench.sparkJars=" + spark_jars(), "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if "/perfbench/target/" in l and ".jar" in l
          and not l.startswith("[")]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(CP_FILE, "w") as fh:
        fh.write(cp[-1].strip())
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)
    return cp[-1].strip()


def clean():
    # a catalog set-up leaves tens of thousands of small files and
    # directories; rm(1) removes them faster than shutil.rmtree, and the
    # sync keeps their write-back out of the next run's measurements
    subprocess.run(["rm", "-rf", WORK], check=True)
    os.sync()


def wanted_metrics(trace):
    spec = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec) as fh:
        b = json.load(fh)
    return [m["name"] for m in b["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["catalog_ops", "scan_query", "dml_mix", "counts"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    clean()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.makedirs(RESULTS, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + tmp]
           + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", WORK, "--out", RESULTS])
    err_log = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}.stderr")
    with open(err_log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    clean()
    if a.workload == "counts":
        sys.stdout.write(out)
        sys.exit(p.returncode)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if result is None:
        with open(err_log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"no result (exit code {p.returncode})", 5)

    metrics = {}
    for name in wanted_metrics(a.trace):
        m = result["metrics"].get(name)
        if m is None:
            print(f"perfbench: metric {name} not reported by {a.workload}", file=sys.stderr)
            continue
        metrics[name] = m
    print(json.dumps({"correct": bool(result["correct"]),
                      "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]),
                      "metrics": metrics}))
    sys.exit(0 if p.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
