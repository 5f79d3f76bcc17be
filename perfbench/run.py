#!/usr/bin/env python3
"""Benchmark of the graft CDC -> SCD2 engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark
package (perfbench/build.sbt, which compiles graft's main sources with the
benchmark's Scala runner) and later runs reuse the build while the sources are
unchanged. One JVM runs the workload on local[<cores>]; this script then
runs the output checks that need DuckDB, derives the metrics and prints
them, the last line being one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer ones (see README.md).
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
sys.path.insert(0, HERE)

from benchlib import metrics, oracle  # noqa: E402

WORKLOADS = ("cdc_bulk", "cdc_trickle", "faces_core")
GRAFT_SOURCES = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "graftbench.stamp")
FACE_DATA = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(HERE, ".work")
JVM_TIMEOUT_S = 165
ADD_OPENS = (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (GRAFT_SOURCES, os.path.join(HERE, "src")):
        for dirpath, dirs, names in os.walk(base):
            dirs.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found; set SPARK_HOME")
    return home


def build(env):
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "products"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def heap():
    """Half of RAM, clamped to 2..8 GiB, as the repository's test command
    sizes its JVMs."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(args, env, home, work, raw_path):
    cmd = ["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", os.pathsep.join([CLASSES, os.path.join(home, "jars", "*")]),
            "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--raw", raw_path]
    if args.workload == "faces_core":
        cmd += ["--data", FACE_DATA, "--faces", ",".join(metrics.FACES)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{args.workload} did not finish within {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(raw_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the benchmark JVM exited with code {proc.returncode}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(GRAFT_SOURCES):
        fail(f"graft sources not found at {GRAFT_SOURCES}; run from a full checkout")
    home = spark_home()
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    build(env)

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    raw_path = os.path.join(work, "raw.json")
    t0 = time.time()
    run_jvm(args, env, home, work, raw_path)
    with open(raw_path) as f:
        raw = json.load(f)

    failed = raw["failed"]
    notes = list(raw["failures"])
    checks = {c["name"]: c["ok"] for c in raw["checks"]}
    if args.workload == "faces_core":
        verdicts = oracle.check_faces(FACE_DATA, os.path.join(work, "results"),
                                      raw["oracle_sql"], metrics.FACES)
        for face, why in verdicts.items():
            checks[face] = why is None
            if why is not None:
                failed += 1
                notes.append(f"check {face}: {why}")

    values = metrics.per_layer(raw) if args.trace else metrics.end_to_end(raw)
    for name, m in values.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    if not args.trace:
        t = metrics.op_tail(raw)
        n = sum(1 for o in raw["ops"] if not o["traced"])
        print(f"op tail = p{t[0]:g} {t[1]:.6g} ms of {t[2]} samples" if t else
              f"op tail = none: {n} samples leave no percentile with 10 beyond it")
    print(f"checks: {sum(checks.values())}/{len(checks)} passed; "
          f"attempted {raw['attempted']}, failed {failed}; wall {time.time() - t0:.1f} s")
    for note in notes:
        print(f"failure: {note}")
    shutil.rmtree(os.path.join(work, "local"), ignore_errors=True)
    result = {
        "correct": failed == 0 and not notes and all(checks.values()) and bool(checks),
        "attempted": int(raw["attempted"]),
        "failed": int(failed),
        "metrics": values,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
