#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload daily_dump --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (sbt, offline,
outputs under .bench_build/), runs the harness in one JVM, checks the
read_mix query results against their DuckDB twins with tools/check.py, and
prints the report followed by one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. Exits non-zero when an output is wrong or a step fails.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
WORKLOADS = ("daily_dump", "read_mix")
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]
HARNESS_TIMEOUT_S = 170


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Digest of every source the build compiles, so a changed tree
    rebuilds and an unchanged one does not."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src", "main", "scala")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_killing_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and kills the whole group on
    timeout, so no child outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None


def build():
    stamp = os.path.join(BUILD, "build.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
        " -Dsbt.offline=true -Xmx2g"))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        code, _ = run_killing_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            timeout=840, cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (log: {log})", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    for need in ("BENCHMARK.json", "src/main/scala/graft", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a full checkout", 2)
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set: the engine runs on a local Spark", 2)
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    build()

    work = os.path.join(BUILD, "runs",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] +
           [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{spark_jars}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--dir", work])
    log = os.path.join(work, "harness.log")
    with open(log, "w") as err:
        code, out = run_killing_group(cmd, HARNESS_TIMEOUT_S, cwd=work,
                                      stdout=subprocess.PIPE, stderr=err, text=True)
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        sys.stderr.write((out or "") + open(log).read()[-4000:])
        fail(f"harness {'timed out' if code is None else f'exited {code}'} "
             f"(log: {log})", 4)
    sys.stdout.write(out)
    res = json.load(open(result_path))

    correct = res["correct"]
    if res.get("oracle"):
        tables, results = res["oracle"]
        chk = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                              tables, results], capture_output=True, text=True,
                             timeout=120)
        for line in chk.stdout.splitlines():
            print(f"oracle {line}")
        correct = correct and chk.returncode == 0

    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        extra = sorted(set(res["per_layer"]) - set(names))
        if extra:
            fail(f"per-layer metrics missing from BENCHMARK.json: {extra}", 5)
        values = {n: res["per_layer"].get(n, 0.0) for n in names}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        missing = sorted(set(names) - set(res["end_to_end"]))
        if missing:
            fail(f"end-to-end metrics not measured: {missing}", 5)
        values = res["end_to_end"]
    line = {"correct": bool(correct), "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {n: {"value": values[n], "unit": units[n]} for n in names}}
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        kept = os.path.join(BUILD, "spans", f"{a.workload}-s{a.seed}.jsonl")
        os.makedirs(os.path.dirname(kept), exist_ok=True)
        shutil.move(spans, kept)
        print(f"spans written to {kept}")
    if correct:
        shutil.rmtree(work, ignore_errors=True)
    else:
        print(f"perfbench: outputs are wrong; work dir kept at {work}",
              file=sys.stderr)
    print(json.dumps(line), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
