"""Build file for the benchmark: compiles the repo's main sources together
with the benchmark's JVM code (perfbench/src) using the Scala compiler that ships
in the Spark distribution, so no build tool or network is needed.

    python3 perfbench/build.py        # from the repo root; prints the classpath

The program and the benchmark compile into two output directories, each keyed
by a digest of its sources (the benchmark's also by the program's), so a run
rebuilds exactly what changed and otherwise reuses the classes.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    """The jars (and Scala compiler) of the Spark distribution at $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME to a Spark distribution")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler in {jars}")
    return jars


def sources(root, top):
    d = os.path.join(root, top)
    if not os.path.isdir(d):
        raise SystemExit(f"perfbench: missing source directory {top}")
    return sorted(os.path.join(dirpath, f) for dirpath, _, files in os.walk(d)
                  for f in files if f.endswith(".scala"))


def digest(root, files, seed=""):
    h = hashlib.sha256(seed.encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_once(out_root, name, dig, files, classpath):
    """Compile `files` into `<out_root>/<name>-<digest>` unless done."""
    classes = os.path.join(out_root, f"{name}-{dig[:16]}")
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    os.makedirs(out_root, exist_ok=True)
    for old in glob.glob(os.path.join(out_root, f"{name}-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(out_root, f"{name}-sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    log = os.path.join(out_root, f"{name}-build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(
            ["java", "-Xmx3g", "-Xss8m", "-cp", classpath,
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
             "-d", tmp, "@" + argfile],
            stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: compiling {name} failed (exit {rc})")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.replace(tmp, classes)
    return classes


def build(root="."):
    """Compile what changed; return (classpath, source digest)."""
    root = os.path.abspath(root)
    out_root = os.path.join(root, BUILD_DIR)
    jars = os.path.join(spark_jars(), "*")
    main_files = sources(root, "src/main/scala")
    main_dig = digest(root, main_files)
    main = compile_once(out_root, "main", main_dig, main_files, jars)
    bench_files = sources(root, "perfbench/src")
    bench_dig = digest(root, bench_files, main_dig)
    bench = compile_once(out_root, "bench", bench_dig, bench_files,
                         main + os.pathsep + jars)
    return os.pathsep.join([bench, main, jars]), bench_dig


if __name__ == "__main__":
    print(build()[0])
