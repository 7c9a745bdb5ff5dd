#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark client (perfbench/src) with the Scala compiler that ships with
Spark, and packs the classes into one jar named by a digest of every source
file, so an unchanged tree is compiled once. A jar (not a directory) lets the
JVM map the classes from a class-data-sharing archive (see run.py). The
build directory keeps the jars of the KEEP_BUILDS most recently built trees,
so runs that alternate between two trees share it without recompiling. (A
jar's time stamp is never touched after it is written: the class-data
archive is only valid for the jar it was dumped from.)

Usage: python3 perfbench/build.py [build_dir]    (default: .bench_build)
Prints the jar's path. Exits non-zero when a source tree is missing or
compilation fails.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

SCALA_JARS = ("scala-compiler", "scala-library", "scala-reflect")
KEEP_BUILDS = 2


def prune(build_dir, pattern):
    """Deletes all but the KEEP_BUILDS newest files matching `pattern` in
    `build_dir`."""
    found = sorted(glob.glob(os.path.join(build_dir, pattern)), key=os.path.getmtime)
    for old in found[:-KEEP_BUILDS]:
        os.remove(old)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = ""
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not prog:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    if not bench:
        raise SystemExit("perfbench: no benchmark sources under perfbench/src")
    res = os.path.join(root, "src/main/resources")
    return prog + bench, res


def build(root, build_dir):
    srcs, res = sources(root)
    h = hashlib.sha256()
    res_files = sorted(glob.glob(os.path.join(res, "**/*"), recursive=True))
    for p in srcs + [r for r in res_files if os.path.isfile(r)]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()[:16]
    jar = os.path.join(build_dir, f"engine-{digest}.jar")
    if os.path.exists(jar):
        return jar, digest
    out = os.path.join(build_dir, f"classes-{digest}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars()
    tool_cp = []
    for name in SCALA_JARS:
        found = sorted(glob.glob(os.path.join(jars, f"{name}-2.13*.jar")))
        if not found:
            raise SystemExit(f"perfbench: {name} jar not found in {jars}")
        tool_cp.append(found[-1])
    argfile = os.path.join(build_dir, f"sources-{digest}.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(tool_cp),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed (exit {r.returncode})")
    if os.path.isdir(res):
        shutil.copytree(res, out, dirs_exist_ok=True)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(out):
            for name in sorted(files):
                p = os.path.join(d, name)
                z.write(p, os.path.relpath(p, out))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(out, ignore_errors=True)
    prune(build_dir, "engine-*.jar")
    return jar, digest


if __name__ == "__main__":
    bd = sys.argv[1] if len(sys.argv) > 1 else ".bench_build"
    os.makedirs(bd, exist_ok=True)
    print(build(os.getcwd(), bd)[0])
