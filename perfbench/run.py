#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage (from the repository root):

    python3 perfbench/run.py --workload bi_mix --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark code with sbt when their sources
changed, runs one JVM (`perfbench.Main`) on local[nproc], checks the
outputs, and prints one JSON object as the last line of stdout:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones.
The line before it carries the details: per-operation dispersion, host
factors, problems. See perfbench/README.md.
"""
import argparse
import ast
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main", "scala", "graft")
TARGET = os.path.join(HERE, "target")
ARCHIVE = os.path.join(TARGET, "perfbench.jsa")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 172

# what build.sbt's javaOptions give a forked run (Spark on JDK 17)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark code unless the sources are unchanged; returns
    the runtime classpath. A fresh build also records a class-data-sharing
    archive of a JVM that starts Spark, so each run's JVM starts from it
    instead of loading and verifying every class anew (about 4 s a run)."""
    if not os.path.isdir(ENGINE):
        die(f"engine sources not found at {os.path.relpath(ENGINE, ROOT)}: "
            "run from the root of a full checkout", 2)
    stamp = source_stamp()
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        die(f"build failed (sbt exit {r.returncode})")
    with open(cp_file) as c:
        cp = c.read()
    work = os.path.join(HERE, "work", "startup")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    subprocess.run(jvm_command(cp, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
                   + ["--workload", "startup", "--work", work],
                   cwd=work, env=jvm_env(), stdout=sys.stderr,
                   stderr=sys.stderr, timeout=RUN_TIMEOUT_S)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if exe and os.path.exists(exe) else "java"


def jvm_command(cp, work, flags):
    cmd = [java()] + flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", cp, "perfbench.Main"]


def jvm_env():
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    return env


def run_jvm(cp, args, work, out):
    flags = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = jvm_command(cp, work, flags) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scale", args.scale, "--work", work, "--out", out,
        "--gen-tables", os.path.join(HERE, "gen_tables.py")]
    try:
        r = subprocess.run(cmd, cwd=work, env=jvm_env(), stdout=sys.stderr,
                           stderr=sys.stderr, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    if r.returncode != 0 or not os.path.exists(out):
        die(f"benchmark JVM failed (exit {r.returncode})")
    with open(out) as f:
        return json.load(f)


def oracle_failures(res):
    """bi_mix: the DuckDB oracle over the last pass's results. Returns
    the queries whose results do not match (or are missing)."""
    d = res["details"]
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "compare_oracle.py"),
         d["tables_dir"], d["oracle_dir"]],
        capture_output=True, text=True, timeout=120)
    ok = {line.split()[1] for line in r.stdout.splitlines()
          if line.startswith("OK ")}
    fails = sorted(set(d["query_attempts"]) - ok)
    last = r.stdout.strip().splitlines()[-1:] or [""]
    if "FAILS:" in last[0]:
        fails = sorted(set(fails) | set(ast.literal_eval(last[0].split("FAILS:")[1].strip())))
    return fails


def stop(signum, _frame):
    # an exception, not the default exit: subprocess.run then kills the
    # JVM or sbt it is waiting for, and waits until it has ended
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, stop)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs, for the smoke test")
    args = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_file):
        die("BENCHMARK.json not found at the repository root", 2)
    with open(spec_file) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {args.workload}", 2)

    cp = build()
    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    res = run_jvm(cp, args, work, os.path.join(out_dir, f"{tag}.jvm.json"))

    attempted, failed = res["attempted"], res["failed"]
    problems = list(res["problems"])
    if args.workload == "bi_mix":
        bad = oracle_failures(res)
        attempts = res["details"]["query_attempts"]
        failed += sum(attempts.get(q, 0) for q in bad)
        problems += [f"{q}: result differs from the DuckDB oracle" for q in bad]

    if args.trace == 0:
        values = dict(res["metrics"])
        values["ok_frac"] = 1.0 - failed / max(1, attempted)
        declared = spec["end_to_end"]
    else:
        values = {m["name"]: res["layers"].get(m["name"], 0.0)
                  for m in spec["per_layer"]}
        declared = spec["per_layer"]
    missing = [m["name"] for m in declared if values.get(m["name"]) is None]
    if missing:
        die(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}

    report = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "problems": problems,
              "details": res["details"], "layers": res["layers"]}
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0 and not problems,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
