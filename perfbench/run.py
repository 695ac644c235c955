#!/usr/bin/env python3
"""graft's benchmark: build the program from source, run one workload, check it.

Run from the root of a checkout:

    python3 perfbench/run.py --workload chill_cycle --seed 1 --seconds 8 --trace 0

Workloads: chill_cycle, query_suite (see perfbench/README.md).
The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the lines above it print
every metric by name and unit, plus the run's context record.

The program (src/main/scala) and the harness (perfbench/src) are compiled
with the Scala compiler bundled in Spark's jars into $CARGO_TARGET_DIR
(default .bench_build), once per source change. Each run works in its own
run root under that directory (raw files, warehouses, Spark local dirs,
checkpoints, the JVM's temp dir) and deletes it at the end; a run that
leaves anything behind in its temp dir, or in the system temp dir, fails.

    python3 perfbench/run.py --write-reference

evaluates every read-only suite query once and rewrites
perfbench/ref/suite_reference.tsv, keeping the generated tables in
<build dir>/suite-reference-data for an oracle cross-check
(perfbench/check_reference.sh).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
PROGRAM_SOURCES = [os.path.join(REPO, "src", "main", "scala")]
PROGRAM_RESOURCES = os.path.join(REPO, "src", "main", "resources")
HARNESS_SOURCES = os.path.join(BENCH, "src")
JVM_TIMEOUT_S = 170
HEAP = "2g"
# names a leaked Spark or graft temp entry would carry
LEAK_PREFIXES = ("spark-", "blockmgr-", "graft_", "q_config_run", "cfg_", "perfbench")

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
    """$SPARK_HOME/jars, else the jars of the first spark-submit on PATH
    whose installation bundles the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(j.startswith("scala-compiler") for j in os.listdir(jars)):
            return jars
    fail("no Spark installation with a Scala compiler found: set SPARK_HOME")


def sources(root, suffix):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return sorted(out)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, classpath, out, srcs):
    """Compile `srcs` into `out` with the Scala compiler in Spark's jars."""
    os.makedirs(out)
    argfile = out + "-sources.txt"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        fail(f"compilation failed ({r.returncode})")


def build(build_dir, jars):
    """Compile the program and the harness unless their sources are unchanged."""
    for d in PROGRAM_SOURCES + [HARNESS_SOURCES]:
        if not os.path.isdir(d):
            fail(f"missing sources: {d} (run from a full checkout)")
    program = [p for d in PROGRAM_SOURCES for p in sources(d, ".scala")]
    harness = sources(HARNESS_SOURCES, ".scala")
    program_key = stamp(program)[:16]
    program_out = os.path.join(build_dir, "graft-" + program_key)
    harness_out = os.path.join(build_dir, f"perfbench-{program_key}-{stamp(harness)[:16]}")
    if os.path.isdir(harness_out):
        return program_out, harness_out
    os.makedirs(build_dir, exist_ok=True)
    for old in os.listdir(build_dir):
        stale = old.startswith(("graft-", "perfbench-")) and old not in (
            os.path.basename(program_out), os.path.basename(harness_out))
        if stale or old.endswith(".tmp"):
            shutil.rmtree(os.path.join(build_dir, old))
    t0 = time.time()
    jar_cp = os.path.join(jars, "*")
    for srcs, cp, out in ((program, jar_cp, program_out),
                          (harness, program_out + os.pathsep + jar_cp, harness_out)):
        if not os.path.isdir(out):
            print(f"perfbench: compiling {os.path.basename(out)}", file=sys.stderr)
            scalac(jars, cp, out + ".tmp", srcs)
            os.rename(out + ".tmp", out)
    print(f"perfbench: compiled in {time.time() - t0:.0f} s", file=sys.stderr)
    return program_out, harness_out


def leak_candidates(d):
    try:
        return {e for e in os.listdir(d) if e.startswith(LEAK_PREFIXES)}
    except OSError:
        return set()


def run_jvm(cmd, timeout_s, env):
    """Run the JVM in its own process group, passing its output through;
    return (exit code, last stdout line). A watchdog kills the whole group
    after `timeout_s`."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True,
                            env=env)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(timeout_s, kill)
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            if last:
                print(last, flush=True)
            last = line.rstrip("\n")
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if timed_out.is_set():
        fail(f"the run exceeded {timeout_s} s and was killed")
    return proc.returncode, last


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["chill_cycle", "query_suite"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-reference", action="store_true")
    args = ap.parse_args()
    if not args.write_reference and not args.workload:
        fail("--workload is required")

    jars = spark_jars()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(REPO, ".bench_build"))
    program_out, harness_out = build(build_dir, jars)

    run_root = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    jvm_tmp = os.path.join(run_root, "tmp")
    os.makedirs(jvm_tmp)
    sys_tmp = tempfile.gettempdir()
    sys_before = leak_candidates(sys_tmp)

    # Spark prefers these over spark.local.dir; the run root must win
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    cp = os.pathsep.join([harness_out, program_out, PROGRAM_RESOURCES, os.path.join(jars, "*")])
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={jvm_tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "conf", "log4j2.properties")]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--home", BENCH])
    try:
        if args.write_reference:
            out = os.path.join(BENCH, "ref", "suite_reference.tsv")
            data = os.path.join(build_dir, "suite-reference-data")
            r = subprocess.run(cmd + ["--root", data, "--write-reference", out], env=env)
            sys.exit(r.returncode)
        cmd += ["--root", os.path.join(run_root, "work"), "--out", os.path.join(build_dir, "traces"),
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace)]
        code, last = run_jvm(cmd, JVM_TIMEOUT_S, env)
        if code != 0:
            fail(f"the benchmark JVM exited with {code}")
        try:
            result = json.loads(last)
        except json.JSONDecodeError:
            fail(f"no result line from the benchmark JVM: {last[:200]!r}")
        declared = {m["name"]: m["unit"] for m in json.load(
            open(os.path.join(REPO, "BENCHMARK.json")))["per_layer" if args.trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != declared:
            fail(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(declared.items()))}")
        leaked = sorted(os.listdir(jvm_tmp)) + sorted(leak_candidates(sys_tmp) - sys_before)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    if leaked:
        print(f"FAILED temp check: the run left {leaked[:10]} behind", file=sys.stderr)
        result["correct"] = False
    print(f"  temp dirs: {'clean' if not leaked else 'LEAKED'}; run root removed")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
