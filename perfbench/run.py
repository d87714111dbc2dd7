#!/usr/bin/env python3
"""Build and run the benchmark from the root of a checkout.

    python3 perfbench/run.py --workload dbt_project --seed 1 --seconds 30 --trace 0

The first call compiles the repository's `src/main/scala` together with
`perfbench/src` (plain scalac from the Spark distribution at `$SPARK_HOME`,
or the one `spark-submit` on the PATH belongs to) into the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`) and generates the input
tables there; later calls reuse both while the sources are unchanged. Each
run gets its own directory for inputs, warehouse, `spark.local.dir` and
temp files, removed at exit. The last line of standard output is the JSON
result. `--selftest` runs the benchmark's own tests.

`--overhead` runs the workload untraced and then traced with the same
arguments and prints the difference in `pass_s` (tracing overhead).
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys


def spark_home():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        die("set SPARK_HOME to a Spark 4.1 distribution")
    return home


OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def heap():
    """Driver heap: half of physical memory, clamped to 2..8 GiB (the same
    rule the repository's test launch uses)."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return "%dg" % min(8, max(2, kb // 2097152))


def build(out):
    sources = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not sources:
        die("no src/main/scala here; run from the root of a checkout")
    sources += sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    digest = hashlib.sha256()
    for s in sources:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(out, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(sources))
    print("perfbench: compiling %d sources" % len(sources), file=sys.stderr)
    jars = os.path.join(spark_home(), "jars", "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", jars,
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", jars, "@" + args],
                       stdout=sys.stderr)
    if r.returncode != 0:
        die("compilation failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


def java(classes, extra, argv, **kw):
    jars = os.path.join(spark_home(), "jars", "*")
    cmd = ["java", "-XX:-UsePerfData"] + [x for o in OPENS for x in ("--add-opens", o)] + [
        "-Xmx" + heap(), "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"
    ] + extra + ["-cp", classes + os.pathsep + jars, "perfbench.Main"] + argv
    return subprocess.run(cmd, **kw)


def inputs(classes, out):
    """Generate the input tables once per build; runs copy them."""
    path = os.path.abspath(os.path.join(out, "inputs"))
    stamp = os.path.join(path, "classes.sha256")
    want = open(os.path.join(out, "classes.sha256")).read()
    if os.path.exists(stamp) and open(stamp).read() == want:
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "_tmp"))
    r = java(classes, ["-Djava.io.tmpdir=" + os.path.join(path, "_tmp")],
             ["--generate", path], stdout=sys.stderr)
    if r.returncode != 0:
        die("input generation failed")
    for d in glob.glob(os.path.join(path, "_*")):
        shutil.rmtree(d, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(want)
    return path


def run(classes, out, argv):
    run_dir = os.path.abspath(os.path.join(out, "run-%d" % os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        r = java(classes, ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
                           "-Dperfbench.runDir=" + run_dir,
                           "-Dperfbench.inputs=" + inputs(classes, out)],
                 argv, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return r.returncode, r.stdout


def main():
    argv = sys.argv[1:]
    overhead = "--overhead" in argv
    argv = [a for a in argv if a != "--overhead"]
    out = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classes = build(out)
    if not overhead:
        code, stdout = run(classes, out, argv)
        sys.stdout.write(stdout)
        sys.exit(code)
    passes = {}
    for trace in ("0", "1"):
        code, stdout = run(classes, out, argv + ["--trace", trace])
        sys.stdout.write(stdout)
        if code != 0:
            sys.exit(code)
        m = json.loads(stdout.strip().splitlines()[-1])["metrics"]
        passes[trace] = m["pass_s" if trace == "0" else "trace.pass_s"]["value"]
    print("tracing overhead: %.3f s per pass (traced %.3f s, untraced %.3f s)"
          % (passes["1"] - passes["0"], passes["1"], passes["0"]))


if __name__ == "__main__":
    main()
