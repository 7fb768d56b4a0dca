"""Build file of the benchmark: compiles the engine's sources and the
benchmark runner with the Scala compiler that ships in the Spark jar
directory, without sbt.

The Spark jar directory is the one build.sbt declares as `unmanagedBase`,
or $SPARK_HOME/jars. Classes go to <root>/.bench_build/perfbench/classes
and are rebuilt only when a source file changes.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root):
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources(root):
    files = []
    for d in ("src/main/scala", "perfbench/src"):
        files += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(root):
    """Compile if needed; returns (classes dir, Spark jar dir, source digest)."""
    jars = spark_jars(root)
    srcs = sources(root)
    if not any("/src/main/" in s for s in srcs):
        raise SystemExit("perfbench: no engine sources under src/main; run from the repository root")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    out = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, jars, digest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={out}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp] + srcs
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compilation failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, jars, digest


if __name__ == "__main__":
    print(build(os.getcwd())[0])
