"""Build file of the benchmark: compiles the library (`src/main/scala`)
together with the benchmark's Scala side (`perfbench/src`) against the Spark
jars, with the Scala compiler those jars ship, into `.bench_build/`.

    python3 perfbench/build.py

Run from the repository root. A second call with unchanged sources is a
no-op. The Spark jar directory is `$SPARK_HOME/jars`, else the
`unmanagedBase` the root `build.sbt` declares.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
DEFS = os.path.join(OUT, "defs.json")


def jar_dir():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(jar_dir(), "*")])


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                           recursive=True))
    own = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"),
                           recursive=True))
    if not lib:
        raise SystemExit("build: no library sources under src/main/scala")
    return lib + own


def stamp():
    """Digest of the sources the build compiles."""
    digest = hashlib.sha1()
    for s in sources():
        digest.update(s.encode())
        digest.update(open(s, "rb").read())
    return digest.hexdigest()


def build():
    srcs = sources()
    digest = stamp()
    stamp_path = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_path) and open(stamp_path).read() == digest \
            and os.path.exists(DEFS):
        return
    os.makedirs(CLASSES, exist_ok=True)
    jars = os.path.join(jar_dir(), "*")
    subprocess.run(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", jars,
                    "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
                    "-classpath", jars] + srcs, check=True)
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath(),
                    "perfbench.Main", "defs", DEFS],
                   check=True, stdout=subprocess.DEVNULL)
    with open(stamp_path, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    try:
        build()
    except subprocess.CalledProcessError as e:
        sys.exit(f"build failed: {e}")
