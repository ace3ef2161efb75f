#!/usr/bin/env python3
"""Builds the program (src/main/scala) and the benchmark's own Scala
sources (crawlbench/scala) with the Scala compiler that ships in the
Spark distribution's jars. Outputs are cached under the build directory
($CARGO_TARGET_DIR, default .bench_build) keyed by a hash of the sources.

Usage: python3 crawlbench/build.py     (prints the runtime classpath)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("build: Spark jars not found (set SPARK_HOME)")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources(top):
    out = []
    for dirpath, _, files in os.walk(top):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_jar(name, files, classpath, prefix):
    """Compiles `files` into <build>/<name> (a jar), unless it exists."""
    out = os.path.join(build_dir(), name)
    if os.path.exists(out):
        return out
    os.makedirs(build_dir(), exist_ok=True)
    for old in os.listdir(build_dir()):  # superseded builds of the same part
        if old.startswith(prefix) and old != name:
            os.remove(os.path.join(build_dir(), old))
    tmp = out + ".tmp.jar"
    argfile = out + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath, "@" + argfile]
    print(f"build: compiling {len(files)} files into {os.path.relpath(out, ROOT)}", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    os.remove(argfile)
    if r.returncode != 0:
        if os.path.exists(tmp):
            os.remove(tmp)
        sys.exit(f"build: scalac failed for {name}")
    os.replace(tmp, out)
    return out


def ensure():
    """Returns the runtime classpath, compiling what is stale."""
    prog_src = os.path.join(ROOT, "src", "main", "scala")
    prog_files = sources(prog_src)
    if not prog_files:
        sys.exit(f"build: no program sources under {os.path.relpath(prog_src, ROOT)}")
    bench_files = sources(os.path.join(HERE, "scala"))
    jars = os.path.join(spark_jars(), "*")
    prog_hash = digest(prog_files)
    prog = compile_jar(f"program-{prog_hash[:16]}.jar", prog_files, jars, "program-")
    bench_hash = digest(bench_files, prog_hash)
    bench = compile_jar(f"bench-{bench_hash[:16]}.jar", bench_files, prog + os.pathsep + jars, "bench-")
    return os.pathsep.join([bench, prog, jars]), prog_hash, bench_hash


if __name__ == "__main__":
    print(ensure()[0])
