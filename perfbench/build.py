"""Build file of the graft benchmark package.

Compiles graft's own sources (`src/main/scala`) together with the
benchmark harness (`perfbench/src`) into `.bench_build/classes`, using
the Scala compiler that ships in the Spark distribution's jars, and
returns the runtime classpath. A stamp of every source file's path and
content skips the compile when nothing changed.

  python3 perfbench/build.py        # build only
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA_MAIN = os.path.join("src", "main", "scala")
RESOURCES = os.path.join("src", "main", "resources")
HARNESS = os.path.join("perfbench", "src")


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory the repository's own
    build.sbt compiles against (`unmanagedBase := file("...")`)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("build.sbt names no unmanagedBase jar directory (set SPARK_HOME)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jars with a Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    main = os.path.join(root, SCALA_MAIN)
    if not os.path.isdir(main):
        raise SystemExit(f"{SCALA_MAIN} not found under {root}: nothing to benchmark")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(root, HARNESS, "*.scala")))
    return files


def build(root, out_dir, log=sys.stderr):
    """Compile if needed; returns the runtime classpath string."""
    files = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(classes)):
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", tmp] + files
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            print(proc.stdout[-4000:], file=log)
            raise SystemExit("compile failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return os.pathsep.join([classes, os.path.join(root, RESOURCES), os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build")))
