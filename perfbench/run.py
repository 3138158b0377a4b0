#!/usr/bin/env python3
"""The graft benchmark: one command, two workloads.

    python3 perfbench/run.py --workload queries|platform \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
that ships with Spark, into .bench_build/. Each run launches one JVM that
acts as a single closed-loop client, checks every operation's output, and
prints one JSON line last: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. See perfbench/README.md.

    python3 perfbench/run.py --record [--verified DIR]

re-records perfbench/expected.json: the fingerprint and reference cost of
every deployed registry query over perfbench/data, and the reference time
of one platform cycle. DIR is a graft.Verify output over the same tables
that passes scripts/check.py; every recorded fingerprint must equal that
of its output there.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    """The box's own cores, from nproc, as a positive integer."""
    try:
        out = subprocess.run(["nproc"], capture_output=True, text=True, check=True).stdout
        n = int(out.strip())
    except (OSError, ValueError, subprocess.CalledProcessError) as e:
        fail(f"cannot read the core count from nproc: {e}")
    if n < 1:
        fail(f"nproc gave {n}, not a positive integer")
    return n


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("Spark jars not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("java not found: set JAVA_HOME")
    return exe


def sources():
    found = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not found:
        fail(f"no engine sources under {os.path.relpath(ENGINE_SRC, ROOT)}: "
             "run from the root of a graft checkout")
    return found + sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))


def build(jars):
    """Compile engine and benchmark into .bench_build/classes unless the
    sources are unchanged since the last build."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(BUILD, "classes.sha256")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    scala = [glob.glob(os.path.join(jars, f"scala-{m}-2.13*.jar"))
             for m in ("compiler", "library", "reflect")]
    if not all(scala):
        fail("the Scala 2.13 compiler jars are missing from the Spark jars")
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", ":".join(j[0] for j in scala),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("compilation failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


def run_jvm(classes, jars, plan, work, timeout=JVM_TIMEOUT_S):
    plan_path = os.path.join(work, "plan.json")
    out_path = os.path.join(work, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java(), "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
           "-cp", classes + ":" + os.path.join(jars, "*"),
           "graftbench.Main", plan_path, out_path]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out_path):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM failed ({code}); log in {os.path.relpath(log, ROOT)}")
    with open(out_path) as f:
        return json.load(f)


def load_expected():
    with open(EXPECTED) as f:
        return json.load(f)


def platform_run_plan(seed, seconds, trace, cycle_s, n, work):
    payload_dir = os.path.join(work, "payloads")
    plan = {"workload": "platform", "seed": seed, "cores": n, "work": work,
            "payloads": payload_dir,
            "payload_bytes": benchlib.write_payloads(benchlib.payloads(seed), payload_dir)}
    plan.update(benchlib.platform_plan(seed, seconds, trace, cycle_s))
    return plan


def make_plan(args, n, work):
    if args.workload == "platform":
        return platform_run_plan(args.seed, args.seconds, args.trace == 1,
                                 load_expected()["platform"]["cycle_s"], n, work)
    expected = load_expected()["queries"]
    passes = benchlib.query_passes(args.seconds, expected)
    if args.trace == 1:  # a traced pass runs every query twice
        passes = max(1, passes // 2)
    plan = {"workload": args.workload, "seed": args.seed, "cores": n, "work": work,
            "data": DATA}
    plan.update(benchlib.query_plan(args.seed, expected, passes, trace=args.trace == 1))
    return plan


def record_queries(n, jars, classes, verified):
    """Run every deployed registry query twice; keep the second pass's time
    as the reference cost and require both passes to agree, and with
    `verified`, to equal the fingerprint of the query's output there."""
    work = os.path.join(BUILD, "work", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan = {"workload": "queries", "seed": 0, "cores": n, "work": work,
            "data": DATA, "record": True, "warmup": [], "expected": {}}
    if verified:
        plan["verified"] = os.path.abspath(verified)
    raw = run_jvm(classes, jars, plan, work, timeout=1800)
    first, second = {}, {}
    for o in raw["ops"]:
        if o["error"]:
            fail(f"{o['name']} failed: {o['error']}")
        (second if o["name"] in first else first)[o["name"]] = o
    unstable = [k for k in first if first[k]["fp"] != second[k]["fp"]]
    if unstable:
        fail(f"fingerprints differ between passes: {unstable}")
    if verified:
        wrong = [k for k, o in second.items() if o["fp"] != o["expected_fp"]]
        if wrong:
            fail(f"fingerprints differ from the outputs in {verified}: {wrong}")
    return {k: {"fp": o["fp"], "cost_s": round(o["wall_s"], 3)} for k, o in sorted(second.items())}


def record_platform(n, jars, classes):
    """Time one platform cycle (its ingests, silver, gold and rerun), after
    the warm cycle."""
    work = os.path.join(BUILD, "work", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan = platform_run_plan(0, 1, False, 1, n, work)  # one cycle
    raw = run_jvm(classes, jars, plan, work)
    bad = [o["name"] for o in raw["ops"] if benchlib.failed(o)]
    if bad:
        fail(f"platform operations failed: {bad}")
    return round(sum(o["wall_s"] for o in raw["ops"] if o["kind"] != "warm"), 3)


def record(n, jars, classes, verified):
    queries = record_queries(n, jars, classes, verified)
    cycle_s = record_platform(n, jars, classes)
    with open(EXPECTED, "w") as f:
        json.dump({"data": os.path.relpath(DATA, HERE), "cores": n,
                   "verified": (f"{len(queries)} fingerprints equal those of graft.Verify "
                                "outputs that pass scripts/check.py") if verified else "",
                   "platform": {"cycle_s": cycle_s, "days": benchlib.DAYS,
                                "etf_rows": benchlib.ETF_ROWS, "code_rows": benchlib.CODE_ROWS},
                   "queries": queries}, f, indent=1)
        f.write("\n")
    print(f"[perfbench] recorded {len(queries)} queries, platform cycle {cycle_s} s",
          file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=("queries", "platform"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=23)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--verified", help="with --record: a graft.Verify output directory")
    ap.add_argument("--keep", help="copy the raw run record to this file")
    args = ap.parse_args()
    if not args.record and not args.workload:
        ap.error("--workload is required")
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    sources()
    n = cores()
    jars = spark_jars()
    classes = build(jars)
    if args.record:
        return record(n, jars, classes, args.verified)
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = run_jvm(classes, jars, make_plan(args, n, work), work)
    if args.keep:
        with open(args.keep, "w") as f:
            json.dump(raw, f)
    line = benchlib.result_line(raw, args.trace == 1, n)
    for o in raw["ops"]:
        if benchlib.failed(o):
            print(f"[perfbench] FAILED {o['kind']} {o['name']}: "
                  f"{o['error'] or 'fingerprint ' + o['fp'] + ' != ' + o['expected_fp']}",
                  file=sys.stderr)
    print(f"[perfbench] workload={args.workload} seed={args.seed} cores={n} trace={args.trace}")
    print(benchlib.dumps(line))


if __name__ == "__main__":
    main()
