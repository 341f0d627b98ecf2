#!/usr/bin/env python3
"""graft benchmark: closed-loop workloads over graft's public API.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the root of a graft checkout. The first run compiles the
harness together with the checkout's library sources (with the Scala
compiler among Spark's jars) and writes the fixture; later runs reuse
both while the sources are unchanged. Each
run then launches one JVM directly, and prints one JSON object as the
last line of standard output: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. A failed output check prints
`"correct": false`, names the failures on standard error and exits 1.
See README.md for the workloads and metrics.
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

import metrics

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, "target", "bench")
WORKLOADS = ("pubsub_roundtrip", "batch_headliners")
SCALE = 0.01
HEAP = "3g"
# A fixed initial heap rather than the default 1/64 of the host's memory:
# otherwise the full GCs that end set-up shrink the heap and the timed
# phase grows it again. With the default (about 250 MB on a 16 GB host)
# the headliners spent 2.5 times as long in GC and ran 10-15% slower.
INITIAL_HEAP = "1g"
BUILD_TIMEOUT_S = 600
FIXTURE_TIMEOUT_S = 120
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation: set SPARK_HOME")
    return home


def sources():
    """Every source of the build: the library and the harness."""
    return [os.path.join(d, f)
            for top in (os.path.join(ROOT, "src", "main", "scala"),
                        os.path.join(BENCH, "src", "main", "scala"))
            for d, _, fs in sorted(os.walk(top)) for f in sorted(fs)
            if f.endswith(".scala")]


def spark_jars(home):
    jars = os.path.join(home, "jars")
    return [os.path.join(jars, f) for f in sorted(os.listdir(jars))
            if f.endswith(".jar")]


def build(home, env):
    """Compile when a source changed; return the runtime classpath.

    The library and the harness are compiled in one scalac run with the
    Scala compiler that ships among Spark's jars, so the build needs
    neither sbt nor a dependency cache, and writes only under BUILD.
    """
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    classpath = os.pathsep.join([classes] + spark_jars(home))
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath
    if not any(n.startswith("scala-compiler") for n in os.listdir(
            os.path.join(home, "jars"))):
        die(f"no scala-compiler jar in {home}/jars")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(BUILD, "scalac-args")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    run_child(
        [java(), "-Xss16m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}",
         "-cp", os.path.join(home, "jars", "*"), "scala.tools.nsc.Main",
         "-nowarn", "-d", classes,
         "-classpath", os.pathsep.join(spark_jars(home)), "@" + args],
        ROOT, env, BUILD_TIMEOUT_S, capture=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def fixture_dir(classpath, env):
    """The fixture, written once per version of Fixture.scala."""
    with open(os.path.join(BENCH, "src", "main", "scala", "graftbench",
                           "Fixture.scala"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(BUILD, f"fixture-{tag}-sf{SCALE}")
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "scratch", "tmp"))
        run_child(jvm(classpath, os.path.join(tmp, "scratch", "tmp")) +
                  ["graftbench.Fixture", os.path.join(tmp, "data"),
                   str(SCALE), os.path.join(tmp, "scratch")],
                  ROOT, env, FIXTURE_TIMEOUT_S, capture=True)
        os.replace(os.path.join(tmp, "data"), out)
        shutil.rmtree(tmp, ignore_errors=True)
    return out, tag


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else (
        shutil.which("java") or die("java not found: set JAVA_HOME"))


def jvm(classpath, tmpdir):
    """The java command line of a harness JVM, up to the main class."""
    cmd = [java()] + [a for p in JDK_OPENS
                      for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return cmd + [f"-Xms{INITIAL_HEAP}", f"-Xmx{HEAP}",
                  "-XX:+UnlockDiagnosticVMOptions",
                  "-XX:GCLockerRetryAllocationCount=100",
                  f"-Djava.io.tmpdir={tmpdir}", "-cp", classpath]


def run_child(cmd, cwd, env, timeout, capture=False, stdout=None):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else stdout,
                         stderr=subprocess.STDOUT if capture else stdout,
                         text=capture)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException as e:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            die(f"{os.path.basename(cmd[0])} stopped after {timeout:.0f}s")
        raise
    if p.returncode != 0:
        die(f"{os.path.basename(cmd[0])} exited {p.returncode}" +
            (":\n" + out[-3000:] if capture else ""))
    return out


def launch(args, classpath, data, env, deadline):
    work = os.path.join(BUILD, "runs", f"{os.getpid()}-{int(time.time())}")
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    log_path = os.path.join(BUILD, f"last-{args.workload}.log")
    cmd = jvm(classpath, os.path.join(work, "tmp")) + [
        "graftbench.Main", "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", data, "--work", work,
        "--out", out]
    try:
        with open(log_path, "w") as log:
            try:
                run_child(cmd, ROOT, env, max(10, deadline - time.time()),
                          stdout=log)
            except SystemExit:
                with open(log_path) as f:
                    print(f.read()[-4000:], file=sys.stderr)
                raise
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def pin(raw, fixture_tag):
    """Write the observed batch row counts and hashes as the pinned set."""
    os.makedirs(os.path.dirname(metrics.EXPECTED_PATH), exist_ok=True)
    doc = {"fixture": fixture_tag, "scale": SCALE,
           "queries": {o["query"]: {"rows": o["rows"], "hash": o["hash"]}
                       for o in sorted(raw["observed"],
                                       key=lambda o: o["query"])}}
    with open(metrics.EXPECTED_PATH, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


def _stop(signum, _frame):
    # unwinds into run_child, which kills and reaps the child's group
    raise SystemExit(128 + signum)


def main(argv=None):
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _stop)
    ap = argparse.ArgumentParser(description="graft benchmark run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="write the batch results as the pinned values")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"{ROOT} is not a graft checkout (no src/main/scala/graft)")

    # no JVM started here writes its perf-data file outside the checkout
    home = spark_home()
    env = dict(os.environ, SPARK_HOME=home,
               JAVA_TOOL_OPTIONS=(os.environ.get("JAVA_TOOL_OPTIONS", "") +
                                  " -XX:-UsePerfData").strip())
    classpath = build(home, env)
    data, fixture_tag = fixture_dir(classpath, env)
    # the build may take long once; the measured run gets its own budget
    deadline = time.time() + RUN_TIMEOUT_S
    raw = launch(args, classpath, data, env, deadline)
    if args.pin:
        pin(raw, fixture_tag)
    if args.trace:
        # the spans and listener records of a traced run, for reading
        # with metrics.nest (see README.md)
        trace_path = os.path.join(BUILD, f"trace-{args.workload}.json")
        with open(trace_path, "w") as f:
            json.dump(raw, f)
        print(f"graftbench: trace written to {trace_path}", file=sys.stderr)

    failures = list(raw["failures"])
    result = metrics.summarize(raw, args.trace == 1)
    if args.workload == "batch_headliners":
        bad = metrics.batch_mismatches(raw["observed"],
                                       metrics.expected_batch())
        result["failed"] += len(bad)
        failures += bad
    result["correct"] = result["failed"] == 0 and result["attempted"] >= 1
    names = (metrics.layer_units(metrics.query_names())
             if args.trace else dict(metrics.END_TO_END))
    problems = metrics.check_result(result, list(names))
    if problems:
        die("malformed result: " + "; ".join(problems))
    print(json.dumps({"context": metrics.context(raw)}))
    print(json.dumps(result))
    if not result["correct"]:
        print("graftbench: OUTPUT CHECK FAILED:\n  " +
              "\n  ".join(failures[:20]), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
