#!/usr/bin/env python3
"""xorqbench: end-to-end and per-layer benchmark of the graft algebra,
cache and serve path (compose -> hash -> cache -> lower -> execute ->
serve).

Run from the repository root:

    python3 xorqbench/run.py --workload author_hit --seed 1 --seconds 15 --trace 0

The first run compiles the program (src/main/scala) together with the
benchmark sources (xorqbench/src) with the Scala compiler that ships in
Spark's jars directory ($SPARK_HOME/jars, else the `unmanagedBase` named
in build.sbt) into .bench_build/xorqbench/classes; later runs reuse the
classes while the sources are unchanged. The first run at a scale
factor generates the tables into .bench_build/xorqbench/tables/, which
later runs reuse until the next compilation. Each run then starts one
JVM (xorqbench.Main) whose scratch space, java.io.tmpdir and Spark
directories live under .bench_build/xorqbench/runs/ and are removed
afterwards.

The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it
("xorqbench detail: {...}") carries the noise figure, the tail
percentile, fail_frac and, in traced runs, the end-to-end numbers of
the traced operations. Exit status: 0 when every operation passed its
output check, 1 when any failed (the result is still printed), 2 when
the build or run broke (no result).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "xorqbench")
CLASSES = os.path.join(BUILD, "classes")
TABLES = os.path.join(BUILD, "tables")
WORKLOADS = ["author_hit", "serve_exchange"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[xorqbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("xorqbench: no Spark jars (set SPARK_HOME)")


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise SystemExit(f"xorqbench: program sources not found under {ROOT}")
    files = sorted(glob.glob(os.path.join(prog, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build(jars):
    """Compile program + benchmark into CLASSES unless already current."""
    files = sources()
    res = os.path.join(ROOT, "src", "main", "resources")
    stamp = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(res, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            stamp.update(os.path.relpath(f, ROOT).encode())
            stamp.update(open(f, "rb").read())
    stamp.update(" ".join(sorted(os.listdir(jars))).encode())
    digest = stamp.hexdigest()
    stamp_file = os.path.join(CLASSES, "BUILD_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return
    log(f"compiling {len(files)} sources")
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss16m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    p = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        raise SystemExit("xorqbench: compilation failed")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, "BUILD_STAMP"), "w") as f:
        f.write(digest)
    shutil.rmtree(CLASSES, ignore_errors=True)
    shutil.rmtree(TABLES, ignore_errors=True)
    os.rename(tmp, CLASSES)


def run_jvm(jars, args, extra):
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", tag)
    out = os.path.join(BUILD, "out", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir)
    cmd = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss16m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmpdir}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
            "xorqbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out,
            "--tables", os.path.join(TABLES, f"sf{args.sf}")] + extra
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                         env=env, start_new_session=True)
    try:
        code = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        code = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test knobs
    ap.add_argument("--sf", default="0.1")
    ap.add_argument("--plant-wrong", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    try:
        jars = spark_jars()
        build(jars)
        code, out = run_jvm(jars, args, [
            "--sf", args.sf, "--plant-wrong", str(args.plant_wrong)])
    except (subprocess.TimeoutExpired, OSError) as e:
        log(f"failed: {e}")
        return 2
    result = os.path.join(out, "result.json")
    if code not in (0, 3) or not os.path.exists(result):
        log(f"benchmark JVM ended with {code}; no result")
        return 2
    detail = open(os.path.join(out, "detail.json")).read().strip()
    res = json.loads(open(result).read())
    print("xorqbench detail: " + detail)
    print(json.dumps(res, separators=(",", ":")), flush=True)
    return 0 if code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
