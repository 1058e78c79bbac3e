"""Build file of the pipeline benchmark.

    python3 pipebench/build.py      (from the repository root)

Compiles the program (src/main/scala) and the benchmark code
(pipebench/scala) with the Scala compiler that ships in Spark's jars
directory, into $CARGO_TARGET_DIR (default .bench_build) under the root.
A build is reused while the sources it was compiled from are unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Spark's jars directory, which also holds the Scala compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("build: set SPARK_HOME to a Spark 4.1 installation")
    return os.path.join(home, "jars")


def sources(root):
    prog = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise SystemExit(f"build: program sources not found under {prog}")
    files = sorted(glob.glob(os.path.join(prog, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not files or not bench:
        raise SystemExit("build: no Scala sources to compile")
    return files + bench


def build(root, log=sys.stderr):
    """Return the class directory, compiling first when sources changed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()[:16]
    out_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(out_root, f"classes-{key}")
    if os.path.isfile(os.path.join(classes, "BUILD_OK")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out_root, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print(f"build: compiling {len(srcs)} sources into {classes}", file=log)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    open(os.path.join(classes, "BUILD_OK"), "w").close()
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
