"""Build file of the perfbench package: compiles the program's sources
(src/main/scala) together with the benchmark harness (perfbench/src)
into <checkout>/.bench_build/classes with the Scala compiler that ships
among the Spark jars. A build is skipped when a stamp of the sources'
content hash says the classes are current.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark jar directory the program builds against: $SPARK_JARS,
    else the `unmanagedBase` that build.sbt names."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: cannot find the Spark jars (set SPARK_JARS)")
    return m.group(1)


def sources():
    files = []
    for base in ("src/main/scala", "perfbench/src"):
        files += glob.glob(os.path.join(ROOT, base, "**", "*.scala"), recursive=True)
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classes_dir():
    return os.path.join(OUT, "classes")


def ensure():
    """Compile if the classes are missing or stale; return seconds spent."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources (src/main/scala) in this checkout")
    sha = source_sha()
    stamp = os.path.join(OUT, "classes.sha")
    if os.path.exists(stamp) and open(stamp).read().strip() == sha:
        return 0.0
    t0 = time.time()
    cls = classes_dir()
    tmp = cls + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-classpath", os.path.join(jars, "*"), "-d", tmp] + sources()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: build failed")
    subprocess.run(["rm", "-rf", cls], check=True)
    os.rename(tmp, cls)
    with open(stamp, "w") as f:
        f.write(sha + "\n")
    return time.time() - t0


if __name__ == "__main__":
    print(f"built in {ensure():.1f} s")
