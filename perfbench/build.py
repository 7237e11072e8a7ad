"""Build step of the graft benchmark.

Compiles the program (src/main/scala) together with the benchmark's JVM
harness (perfbench/scala) into `<build dir>/classes` with the Scala
compiler that ships among the Spark jars (build.sbt's unmanagedBase, the
classpath it compiles the main sources against). A stamp of every source file's content skips
the compile when nothing changed since the last build in this checkout.

Usage: python3 perfbench/build.py [build dir]   (default .bench_build)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


class BuildError(RuntimeError):
    pass


def spark_jars(root):
    """The Spark jar directory: $SPARK_JARS, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise BuildError("build.sbt names no unmanagedBase; set SPARK_JARS")
    return m.group(1)


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    return files + sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))


def classpath(root, build_dir):
    return f"{os.path.join(build_dir, 'classes')}:{spark_jars(root)}/*"


def build(root, build_dir):
    """Compile if the sources changed; returns the runtime classpath."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classpath(root, build_dir)
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(build_dir, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{spark_jars(root)}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes, f"@{args_file}"]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=850)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed:\n{proc.stdout[-4000:]}{proc.stderr[-4000:]}")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classpath(root, build_dir)


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(root, ".bench_build")
    try:
        print(build(root, os.path.abspath(out)))
    except BuildError as e:
        sys.exit(str(e))
