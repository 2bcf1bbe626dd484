#!/usr/bin/env python3
"""Benchmark of the graft engine: the CometBFT log ETL and a serving +
table-mutation mix, each a closed loop with one client.

    python3 perfbench/run.py --workload etl_small --seed 1 --seconds 20 --trace 0

Builds the engine and the JVM harness from source with sbt on first use
(again whenever a source changes), runs one workload for --seconds, checks
every op's output and prints one JSON result as the last line of stdout.
--trace 1 runs the traced variant that reports the per-layer metrics.
Exits non-zero without a result if the build or the run fails.
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

import catalog  # noqa: E402
import summary  # noqa: E402

ENGINE_SOURCES = os.path.join(ROOT, "src", "main")
STAMP = os.path.join(HERE, "target", "perfbench-build.json")
PINS = os.path.join(HERE, "expected.json")
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
DATA = os.path.join(HERE, "data")
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 175
JVM_HEAP = "4g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def fingerprint():
    """Hash of every input of the build: engine sources and harness."""
    h = hashlib.sha256()
    roots = [ENGINE_SOURCES, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (opts + " -XX:-UsePerfData -Djava.io.tmpdir=" + tmp).strip()
    return env


def build():
    """Compile with sbt unless the stamp matches the sources; returns the
    runtime classpath."""
    fp = fingerprint()
    if os.path.isfile(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("fingerprint") == fp:
            return stamp["classpath"]
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    log_path = os.path.join(HERE, "target", "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=log, text=True, timeout=840)
        log.write(proc.stdout)
    if proc.returncode != 0:
        fail("build failed, see %s" % log_path)
    lines = [l for l in proc.stdout.splitlines()
             if not l.startswith("[") and "classes" in l and os.pathsep in l]
    if not lines:
        fail("build printed no classpath, see %s" % log_path)
    with open(STAMP, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[-1]}, f)
    return lines[-1]


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs so far, as the kernel
    accounts them; steal is time this machine's CPUs were given to others."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(classpath, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    records = os.path.join(work, "records.jsonl")
    # a fixed heap size: heap growth that follows GC timing would differ run to run
    cmd = [java, "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--work", work, "--out", records]
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    with open(records) if os.path.isfile(records) else open(os.devnull) as f:
        recs = [json.loads(l) for l in f if l.strip()]
    return code, recs


def keep_artifacts(work, workload):
    """Keep the records, spans and JVM log of the last run; drop its data."""
    for name in ("records.jsonl", "spans.jsonl", "jvm.log"):
        src = os.path.join(work, name)
        if os.path.isfile(src):
            shutil.copyfile(src, os.path.join(WORK, "%s-%s" % (workload, name)))
    shutil.rmtree(work, ignore_errors=True)


def load_pins():
    with open(PINS) as f:
        return json.load(f)


def result_metrics(args, bench, records, samples, missing):
    metrics = {}
    if args.trace:
        layer = {r["name"]: r["value"] for r in records if r["kind"] == "layer"}
        for m in bench["per_layer"]:
            name = m["name"]
            if name in layer:
                value = layer[name]
            elif catalog.owner(name) == args.workload:
                missing.append("traced run reported no %s" % name)
                continue
            else:
                value = 0.0
            metrics[name] = {"value": value, "unit": m["unit"]}
        return metrics
    values = {"cycle_s": samples.get("cycle")}
    if any(r["kind"] == "setup" for r in records):
        values["setup_s"] = [summary.setup_seconds(records)]
    for m in bench["end_to_end"]:
        name, unit = m["name"], m["unit"]
        if values.get(name):
            metrics[name] = {"value": summary.median(values[name]), "unit": unit}
            print(summary.describe(name, unit, values[name]))
        else:
            missing.append("no sample of %s" % name)
    for sample, label, unit in catalog.OP_FIGURES[args.workload]:
        if samples.get(sample):
            print(summary.describe(label, unit, samples[sample]))
    return metrics


def main():
    with open(BENCHMARK) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(ENGINE_SOURCES):
        fail("engine sources not found at %s" % ENGINE_SOURCES)
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME does not point at a Spark installation with jars/")

    classpath = build()
    start = time.time()
    work = os.path.join(WORK, "run-" + args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    steal0, total0 = cpu_ticks()
    code, records = run_jvm(classpath, args, work, start + RUN_LIMIT_S)
    steal1, total1 = cpu_ticks()
    keep_artifacts(work, args.workload)
    if code != 0:
        fail("harness %s (exit %s), see %s" % (
            "timed out" if code is None else "failed", code,
            os.path.join(WORK, args.workload + "-jvm.log")))

    attempted, failed, problems, samples = summary.summarize(args.workload, records, load_pins())
    missing = []
    metrics = result_metrics(args, bench, records, samples, missing)
    if total1 > total0:
        print("cpu steal during the run: %.1f%%" % (100.0 * (steal1 - steal0) / (total1 - total0)))
    print("failed_ratio: %.4f (%d of %d ops)" % (
        summary.failed_ratio(max(attempted, 1), failed), failed, attempted))
    for p in problems:
        print("perfbench: " + p, file=sys.stderr)
    if missing:
        fail("; ".join(missing))
    print(json.dumps({"correct": failed == 0, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
