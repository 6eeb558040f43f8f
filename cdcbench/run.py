#!/usr/bin/env python3
"""Build and run the CDC benchmark.

Compiles the engine (src/main/scala) and the benchmark (cdcbench/src) with
the Scala compiler that ships in Spark's jars, then runs one workload in one
JVM and relays its result object as the last line of stdout.

  python3 cdcbench/run.py --workload cdc_batch --seed 1 --seconds 20 --trace 0
  python3 cdcbench/run.py --selftest
  python3 cdcbench/run.py --pin      (rewrites cdcbench/catalog_expected.tsv)

Build output and working data live under .bench_build/cdcbench/ in the
checkout; each run's data is deleted when it ends (a traced run keeps its
spans under .bench_build/cdcbench/traces/).
"""
import argparse
import functools
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "cdcbench")
OUT = os.path.join(ROOT, ".bench_build", "cdcbench")
CLASSES = os.path.join(OUT, "classes")


@functools.lru_cache(maxsize=None)
def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt declares as unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(os.path.join(ROOT, "build.sbt")).read())
    except OSError:
        m = None
    if not m:
        fail("Spark jars not found: set SPARK_HOME")
    return m.group(1)


WORKLOADS = ("cdc_batch", "cdc_stream", "catalog")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[cdcbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala: run from a checkout of the repository")
    if not os.path.isdir(spark_jars()):
        fail(f"Spark jars not found at {spark_jars()} (set SPARK_HOME)")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build():
    """Compile engine and benchmark together unless the sources are unchanged."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = f"{CLASSES}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"[cdcbench] compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    if subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, timeout=800).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)


def jvm(args, tag):
    """Run the benchmark main with `args`; return (exit code, stdout lines)."""
    work = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
            "graft.cdcbench.Main", "--work", work] + args)
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                           timeout=RUN_TIMEOUT_S)
        code, lines = p.returncode, p.stdout.splitlines()
    except subprocess.TimeoutExpired:
        # subprocess.run has killed the JVM and waited for it
        code, lines = 124, []
        print(f"[cdcbench] run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        shutil.copy(spans, os.path.join(OUT, "traces", f"{tag}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return code, lines


def measure(a):
    build()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if a.plant:
        args += ["--plant", a.plant]
    code, lines = jvm(args, f"{a.workload}-{a.seed}-trace{a.trace}")
    if not lines or not lines[-1].startswith("{"):
        fail(f"no result (exit code {code})", code or 2)
    for line in lines:
        print(line)
    sys.exit(code)


def selftest():
    """Same seed -> identical inputs; other seed -> other inputs; each planted
    fault -> a non-zero exit."""
    build()
    ok = True
    digests = {}
    for seed, tag in ((1, "a"), (1, "b"), (2, "c")):
        code, lines = jvm(["--digest", str(seed)], f"digest-{tag}")
        digests[tag] = lines[-1] if code == 0 and lines else None
    same = digests["a"] is not None and digests["a"] == digests["b"]
    differ = digests["c"] is not None and digests["a"] != digests["c"]
    print(json.dumps({"check": "same seed, same inputs", "pass": same, "digest": digests["a"]}))
    print(json.dumps({"check": "other seed, other inputs", "pass": differ, "digest": digests["c"]}))
    ok &= same and differ
    for workload, plant in (("cdc_batch", "drop_event"), ("cdc_stream", "dup_emission"),
                            ("catalog", "wrong_row")):
        code, lines = jvm(["--workload", workload, "--seed", "1", "--seconds", "1",
                           "--trace", "0", "--plant", plant], f"plant-{plant}")
        caught = code != 0 and bool(lines) and '"correct": false' in lines[-1]
        print(json.dumps({"check": f"{workload} catches {plant}", "pass": caught,
                          "exit_code": code}))
        ok &= caught
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", choices=("drop_event", "dup_emission", "wrong_row"),
                    help="plant a fault; the run must then fail its checks")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin", action="store_true",
                    help="re-pin each catalog query's row count and digest")
    a = ap.parse_args()
    if a.selftest:
        selftest()
    elif a.pin:
        build()
        code, _ = jvm(["--pin", os.path.join(HERE, "catalog_expected.tsv")], "pin")
        sys.exit(code)
    elif a.workload:
        measure(a)
    else:
        ap.error("--workload or --selftest is required")


if __name__ == "__main__":
    main()
