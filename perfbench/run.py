#!/usr/bin/env python3
"""Repository benchmark: run one workload for one seed and print its metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload bv-scan --seed 1 --seconds 8 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs the benchmark JVM, checks
every op's output, writes the full record under .bench_build/records/ and
prints a JSON summary as the last line of stdout. Exits non-zero when an op
fails its check or the run cannot be made.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import oracle  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("bv-scan", "bv-write", "query-mix")
END_TO_END = ("setup_s", "pass_s", "op_p50_s", "op_tail_s", "peak_heap_mb")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 600
SF = 0.01
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha1()
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation: $SPARK_HOME, else the first directory on PATH
    whose spark-submit sits next to a jars/ directory."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.abspath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation found: set SPARK_HOME")


def build(root, out):
    classes = os.path.join(out, "sbt", "scala-2.13", "classes")
    stamp_file = os.path.join(out, "build.stamp")
    stamp = source_stamp(root)
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    repos = os.path.expanduser("~/.sbt/repositories")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(out, 'sbt-global')}",
           f"-Dsbt.ivy.home={os.path.join(out, 'ivy')}", "-J-Xmx2g"]
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "Compile/copyResources"]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.pop("SBT_OPTS", None)
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0 or not os.path.isdir(classes):
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def make_tables(run_dir, seed, reps=3):
    """Generate the seeded tables `reps` times; keep the last copy and
    return it with the build times (set-up reports their median)."""
    times = []
    for i in range(reps):
        d = os.path.join(run_dir, f"tables{i}")
        t0 = time.monotonic()
        tables.write(d, seed, SF)
        times.append(time.monotonic() - t0)
        if i:
            shutil.rmtree(os.path.join(run_dir, f"tables{i - 1}"))
    return os.path.join(run_dir, f"tables{reps - 1}"), times


def java_cmd(classes, args):
    spark_jars = os.path.join(spark_home(), "jars", "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens, "-Xms2g", "-Xmx2g",
            f"-Djava.io.tmpdir={args['tmp']}", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}:{spark_jars}", "graft.perfbench.Main",
            *[x for k, v in args.items() if k != "tmp" for x in (f"--{k}", str(v))]]


def summary(rec, trace, extra_failed):
    failed = rec["failed"] + extra_failed
    attempted = rec["attempted"]
    if trace:
        metrics = rec["per_layer"]["metrics"]
    else:
        metrics = {k: rec["end_to_end"][k] for k in END_TO_END}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout of the repository (src/main/scala/graft not found)")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    classes = build(root, out)

    run_dir = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "work", "dump"):
        os.makedirs(os.path.join(run_dir, d))
    records = os.path.join(out, "records")
    os.makedirs(records, exist_ok=True)
    record_path = os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    try:
        args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "cores": len(os.sched_getaffinity(0)),
                "work": os.path.join(run_dir, "work"), "dump": os.path.join(run_dir, "dump"),
                "tables": "", "record": record_path, "tmp": os.path.join(run_dir, "tmp")}
        if a.workload == "query-mix":
            args["tables"], build_s = make_tables(run_dir, a.seed)
            args["build-s"] = ",".join(f"{t:.6f}" for t in build_s)
        if os.path.exists(record_path):
            os.remove(record_path)
        env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "tmp"))
        args["launch-ms"] = int(time.time() * 1000)
        try:
            r = subprocess.run(java_cmd(classes, args), env=env, stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("benchmark JVM timed out", 4)
        if r.returncode != 0 or not os.path.exists(record_path):
            sys.stderr.write(r.stderr.decode(errors="replace")[-6000:])
            fail(f"benchmark JVM exited with {r.returncode}", 4)
        rec = json.load(open(record_path))
        extra_failed = 0
        if a.workload == "query-mix":
            bad = oracle.check(args["tables"], args["dump"], rec["facts"]["oracle_sql"],
                               os.path.join(HERE, ".oracle_cache"))
            runs_of = {}
            for op_run in rec["op_runs"]:
                runs_of[op_run["op"]] = runs_of.get(op_run["op"], 0) + 1
            for name, why in bad.items():
                # every execution of the op hashed the same as the checked one
                extra_failed += runs_of.get(name, 0) + 1
                rec["failures"].append(f"{name}: oracle mismatch: {why}")
            rec["oracle_failures"] = bad
        rec["ops_failed_ratio"] = (rec["failed"] + extra_failed) / max(1, rec["attempted"])
        with open(record_path, "w") as f:
            json.dump(rec, f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for line in rec["failures"][:20]:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "cpus": rec["cpus"],
                      "n": rec["n"], "passes": rec["passes"],
                      "op_tail_percentile": rec["op_tail_percentile"], "record": record_path}))
    s = summary(rec, a.trace, extra_failed)
    print(json.dumps(s))
    sys.exit(0 if s["correct"] else 1)


if __name__ == "__main__":
    main()
