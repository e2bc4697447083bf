"""Builds the benchmark: compiles the repo's main Scala sources together with
perfbench/src into .bench_build/classes, using the Scala compiler that ships
in the Spark distribution's jars directory. The build is skipped when the
sources are unchanged since the last one (a digest is kept next to the
classes).

Usage: python3 perfbench/build.py   (from the repo root)
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    """The jars directory of the Spark distribution: $SPARK_HOME/jars, or the
    one next to the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources(root):
    found = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root):
    """Returns the classes directory, compiling first if the sources changed."""
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        raise SystemExit("perfbench: src/main/scala/graft is missing; run from the repo root")
    srcs = sources(root)
    digest = hashlib.sha256()
    for path in srcs + [os.path.abspath(__file__)]:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    digest = digest.hexdigest()
    build_dir = os.path.join(root, BUILD_DIR)
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(classes, ".digest")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == digest:
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(build_dir, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cp = os.path.join(spark_jars(), "*")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
        subprocess.run([java, "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", tmp, "-classpath", cp, "@" + argfile], check=True,
                       stdout=sys.stderr)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp, "w") as f:
            f.write(digest)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
