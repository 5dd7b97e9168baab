#!/usr/bin/env python3
"""Run one benchmark run and print its result as the last stdout line.

Usage (from the repository root):
    python3 perfbench/run.py --workload corpus|octopus --seed N \
        --seconds S --trace 0|1

Builds the engine (`sbt compile` at the root) and the harness
(`perfbench/harness`) when their sources changed, then starts one JVM
(`perfbench.Main`) with a private temp directory under perfbench/.runs.
After the JVM exits it measures what the run left in that directory,
deletes it, writes the full stamped record to perfbench/records/ and
prints it, then prints {"correct", "attempted", "failed", "metrics"}.

Environment: SPARK_HOME names the Spark installation whose jars the
engine builds and runs against; PERFBENCH_DATA overrides the input
tables (default ~/testdata/sf0.1, the seed-42 tables described in
TESTDATA.md).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HARNESS = os.path.join(BENCH, "harness")
BUILD = os.path.join(BENCH, ".build")
RUNS = os.path.join(BENCH, ".runs")
RECORDS = os.path.join(BENCH, "records")
ENGINE_CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
HARNESS_CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")

WORKLOADS = ("corpus", "octopus")
XMX = "4g"
# a run must end within 180 s; this leaves time to clean up
JVM_LIMIT_S = 170
# JDK 17 module opens Spark needs outside spark-submit (the engine's
# build.sbt passes the same list)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the two builds read."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                 HARNESS):
        for dirpath, dirnames, names in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames
                                 if d not in ("target", "project") or
                                 dirpath == HARNESS and d == "project")
            files += [os.path.join(dirpath, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".java", ".properties"))]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_compile(cwd):
    # sbt's own JVM keeps its temp files under perfbench/.build too
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    p = subprocess.run(["sbt", "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={tmp}",
                        "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=cwd, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=800)
    if p.returncode != 0:
        raise SystemExit(f"perfbench: sbt compile failed in {cwd}")


def build():
    """Compile the engine and the harness unless the stamp matches."""
    stamp = os.path.join(BUILD, "stamp")
    digest = source_hash()
    if (os.path.isdir(ENGINE_CLASSES) and os.path.isdir(HARNESS_CLASSES)
            and os.path.exists(stamp) and open(stamp).read() == digest):
        return digest
    log("building engine and harness")
    sbt_compile(ROOT)
    sbt_compile(HARNESS)
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return digest


def dir_bytes(path):
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            f = os.path.join(dirpath, n)
            if os.path.isfile(f) and not os.path.islink(f):
                total += os.path.getsize(f)
    return total


def git_sha():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except OSError:
        return None


def untraced_baseline(workload, digest):
    """Median batch_s of this workload's untraced records of the same
    sources, and how many there are."""
    vals = []
    for f in glob.glob(os.path.join(RECORDS, f"{workload}-*-trace0-*.json")):
        try:
            with open(f) as fh:
                r = json.load(fh)
            if r["stamp"]["source_sha256"] == digest:
                vals.append(r["result"]["metrics"]["batch_s"]["value"])
        except (OSError, ValueError, KeyError):
            pass
    return (statistics.median(vals), len(vals)) if vals else (None, 0)


def start_jvm(main_args, run_dir, stdout):
    """Start perfbench.Main with its temp and Spark dirs under run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([ENGINE_CLASSES, HARNESS_CLASSES,
                          os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    cmd = (["java", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + main_args)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep both here
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark"))
    return subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=stdout,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True, text=True)


def run_jvm(args, run_dir, data, deadline):
    proc = start_jvm(["--workload", args.workload, "--seed", str(args.seed),
                      "--seconds", str(args.seconds), "--trace", str(args.trace),
                      "--data", data, "--run-dir", run_dir,
                      "--pins", os.path.join(BENCH, "pins.json")],
                     run_dir, subprocess.PIPE)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: run exceeded its time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: JVM exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        raise SystemExit("perfbench: JVM printed no result")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no engine sources next to perfbench/")
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("perfbench: SPARK_HOME is not set")
    data = os.environ.get("PERFBENCH_DATA",
                          os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    if not os.path.isfile(os.path.join(data, "lineitem.parquet")) and \
            not os.path.isdir(os.path.join(data, "lineitem.parquet")):
        raise SystemExit(f"perfbench: no input tables in {data}")

    digest = build()
    deadline = time.time() + JVM_LIMIT_S
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run_jvm(args, run_dir, data, deadline)
        tmp_left_mb = dir_bytes(run_dir) / (1024 * 1024)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS)
        except OSError:
            pass

    record = res.pop("record")
    record["tmp_left_mb"] = tmp_left_mb
    if args.trace:
        base, n = untraced_baseline(args.workload, digest)
        traced = record["traced_end_to_end"]["batch_s"]
        record["overhead_base_runs"] = n
        res["metrics"]["core.tmp_left_mb"] = {"value": tmp_left_mb, "unit": "MB"}
        res["metrics"]["trace.overhead_s"] = {
            "value": traced - base if base is not None else 0.0, "unit": "s"}
    record["stamp"] = {
        "nproc": os.cpu_count(), "master": record.pop("master"),
        "shuffle_partitions": record.pop("shuffle_partitions"),
        "xmx": XMX, "spark": record.pop("spark"), "scala": record.pop("scala"),
        "jdk": record.pop("jdk"), "git_sha": git_sha(), "source_sha256": digest,
        "seed": args.seed, "seconds": args.seconds, "traced": bool(args.trace),
        "generated_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    record["result"] = res
    os.makedirs(RECORDS, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time() * 1000)}.json"
    with open(os.path.join(RECORDS, name), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
