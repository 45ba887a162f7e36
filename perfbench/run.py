#!/usr/bin/env python3
"""Build and run one benchmark workload; print its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--record FILE]
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first run compiles the program
(src/main/scala) together with the benchmark (perfbench/src) into
.bench_build/perfbench; later runs reuse that build while the sources are
unchanged. The last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics. --record appends the full
record (metrics, environment and host stamps) to FILE as one JSON line.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("trade_stream", "darkpool_dedup_stream", "dashboard_queries")
JVM_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        fail(f"program sources not found under {prog}; run from the root of a checkout")
    out = []
    for base in (prog, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compiles program and benchmark with scalac; returns the classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars)] + srcs))
    print(f"perfbench: compiling {len(srcs)} source files", file=sys.stderr)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
                        "scala.tools.nsc.Main", "@" + argfile])
    if r.returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def java_cmd(classes, jars, main, args):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    props = {
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "java.io.tmpdir": tmp,
        "derby.system.home": tmp,
    }
    # -XX:-UsePerfData: the JVM would otherwise write its perf file outside
    # the checkout, whatever java.io.tmpdir says
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + opens +
            [f"-D{k}={v}" for k, v in props.items()] +
            ["-cp", os.pathsep.join([classes] + jars), main] + args)


def run_jvm(cmd, log_path):
    """Runs the JVM in its own process group; kills the group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--record", help="append the full record to this JSONL file")
    ap.add_argument("--self-test", action="store_true",
                    help="show that every output check rejects an injected wrong result")
    a = ap.parse_args()
    if not a.self_test and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    classes = build(jars)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)

    if a.self_test:
        log = os.path.join(logs, "selftest.log")
        rc = run_jvm(java_cmd(classes, jars, "perfbench.SelfTest", []), log)
        sys.stdout.write(open(log, errors="replace").read())
        sys.exit(0 if rc == 0 else 1)

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    result = os.path.join(BUILD, f"result-{a.workload}.json")
    if os.path.exists(result):
        os.remove(result)
    log = os.path.join(logs, f"{a.workload}-{a.seed}-{a.trace}.log")
    rc = run_jvm(java_cmd(classes, jars, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--result", result]), log)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(os.path.join(BUILD, "tmp"), ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        why = "timed out" if rc is None else f"exited with {rc}"
        print(f"perfbench: {a.workload} {why}; log tail:\n{tail(log)}", file=sys.stderr)
        sys.exit(1)
    with open(result) as f:
        rec = json.load(f)
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps(rec) + "\n")
    for fail_ in rec["detail"]["failures"][:5]:
        print(f"FAILED {fail_['op']}: {'; '.join(fail_['errors'][:3])}")
    print(f"workload {a.workload} seed {a.seed} trace {a.trace} "
          f"attempted {rec['attempted']} failed {rec['failed']}")
    for name, m in rec["metrics"].items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({k: rec[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
