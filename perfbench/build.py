"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's own JVM mains (`perfbench/scala`) into
`.bench_build/classes-<hash>/` of the checkout.

The compiler is the Scala compiler that ships with the Spark
distribution the repo builds against (the `unmanagedBase` jar
directory named in `build.sbt`), run as a plain `java` process, so
the build reads only the checkout and that jar directory and writes
only under `.bench_build/`. A build is reused when no source changed.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"

# Spark 4 on JDK 17 outside spark-submit needs these (the same list
# build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def jar_dir(root):
    """The jar directory build.sbt compiles against."""
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError(f"no build.sbt under {root}")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase")
    return m.group(1)


def java(classpath, *args, heap):
    """Command line of a benchmark JVM with the given heap flags."""
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return ["java", *opens, *heap, "-Dspark.ui.enabled=false",
            "-cp", classpath, *args]


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala",
                                         "**", "*.scala"), recursive=True))
    if not prog:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return prog + own


def build(root, log=sys.stderr):
    """Compile if needed; return the classpath for the benchmark JVMs."""
    jars = jar_dir(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update(jars.encode())
    out = os.path.join(root, BUILD_DIR, f"classes-{h.hexdigest()[:16]}")
    classpath = f"{out}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.isfile(os.path.join(out, ".complete")):
        return classpath
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
            "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
            "-classpath", os.path.join(jars, "*")] + srcs)
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return classpath


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
