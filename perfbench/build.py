"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark's JVM code (`perfbench/scala`) with the Scala compiler that
ships in Spark's jar directory, into `.bench_build/perfbench/<source hash>/`.

    python3 perfbench/build.py        # prints the classes directory

A build is reused while no source file changes. Spark's jars are the
directory build.sbt names as `unmanagedBase`, or $SPARK_HOME/jars when
SPARK_HOME is set.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def _sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        if not os.path.isdir(base):
            raise SystemExit("build: missing source directory %s" % os.path.relpath(base, ROOT))
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def _resources():
    base = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(base):
        raise SystemExit("build: missing src/main/resources")
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs), base


def build(log=sys.stderr):
    srcs = _sources()
    res, res_base = _resources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(ROOT, ".bench_build", "perfbench", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit("build: no Spark jar directory at %s (set SPARK_HOME)" % jars)
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", os.path.join(tmp, "classes"), "-cp", cp, "@" + argfile]
    t0 = time.time()
    print("build: compiling %d sources" % len(srcs), file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("build: scalac failed (exit %d)" % r.returncode)
    for p in res:
        dst = os.path.join(tmp, "classes", os.path.relpath(p, res_base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(os.path.join(tmp, "ok"), "w") as f:
        f.write("%.1f s\n" % (time.time() - t0))
    try:
        os.rename(tmp, out)
    except OSError:  # built concurrently by another run: keep theirs
        shutil.rmtree(tmp, ignore_errors=True)
    print("build: done in %.1f s" % (time.time() - t0), file=log)
    return classes


if __name__ == "__main__":
    print(build())
