"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own Scala code (perfbench/scala) from source into one
class directory, with the Scala compiler that ships among the Spark jars.

    python3 perfbench/build.py

Output goes to .bench_build/classes under the checkout root. A stamp of
the source contents skips the compile when nothing changed.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
TMP = os.path.join(OUT, "tmp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the directory the
    repository's build.sbt names as its unmanaged base."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME or run from a checkout with build.sbt")


def classpath():
    return os.pathsep.join([CLASSES] + sorted(glob.glob(os.path.join(spark_jars(), "*.jar"))))


def jvm_base_flags():
    return ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + TMP]


def sources():
    missing = [d for d in SOURCE_DIRS if not os.path.isdir(d)]
    if missing:
        raise BuildError("missing source directories: " + ", ".join(missing))
    return sorted(p for d in SOURCE_DIRS
                  for p in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def build(log=sys.stderr):
    """Compile if the sources changed; return the runtime classpath."""
    srcs = sources()
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, "BUILD_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()

    compiler = [j for j in jars if re.search(r"scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError("Scala compiler, library and reflect jars not found among the Spark jars")
    os.makedirs(TMP, exist_ok=True)
    staging = CLASSES + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = (["java", "-Xss8m", "-Xmx2g"] + jvm_base_flags()
           + ["-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "-nowarn",
              "-classpath", os.pathsep.join(jars), "-d", staging, "@" + args_file])
    print(f"[build] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-8000:])
    with open(os.path.join(staging, "BUILD_STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
