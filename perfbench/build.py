"""Build file of the benchmark: compiles the library's sources together
with the benchmark harness into one class directory, beside the
library's resources, with the Scala compiler that ships in Spark's jar
directory; no sbt needed.

The output directory is keyed by a hash of every input file, so a
checkout builds once and reuses the classes on later runs.

    python3 perfbench/build.py      # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
BUILD_ROOT = os.path.join(".bench_build", "perfbench")
SCALA_VERSION = "2.13.17"


def resources(root):
    base = os.path.join(root, "src", "main", "resources")
    return sorted(f for f in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(f))


def sources(root):
    found = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not found:
        raise SystemExit(f"perfbench: no library sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"),
                             recursive=True))
    return found + bench


def digest(files):
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath():
    return os.path.join(SPARK_JARS, "*")


def build(root="."):
    """Return the class directory for the current sources, compiling if needed."""
    files = sources(root)
    res = resources(root)
    key = digest(files + res)
    out = os.path.join(root, BUILD_ROOT, key)
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    if os.path.isdir(os.path.join(root, BUILD_ROOT)):
        shutil.rmtree(os.path.join(root, BUILD_ROOT))
    os.makedirs(classes)
    compiler = os.pathsep.join(os.path.join(SPARK_JARS, f"scala-{j}-{SCALA_VERSION}.jar")
                               for j in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", classpath(), "-d", classes] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed with code {proc.returncode}")
    base = os.path.join(root, "src", "main", "resources")
    for f in res:
        dest = os.path.join(classes, os.path.relpath(f, base))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(f, dest)
    open(os.path.join(out, "ok"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
