"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in the Spark jar directory the project builds against (build.sbt's
`unmanagedBase`), into `.bench_build/classes`.

A stamp of every source file's path and bytes skips the compile when
nothing changed. Usage: python3 perfbench/build.py (prints the classpath).
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sources(root):
    out = []
    for top in ("src/main/scala", "src/main/java", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def _sbt_setting(root, pattern):
    """A setting of build.sbt, the one place the project names its toolchain."""
    m = re.search(pattern, open(os.path.join(root, "build.sbt")).read())
    if not m:
        raise RuntimeError(f"build.sbt has no setting matching {pattern}")
    return m.group(1)


def classpath(root=ROOT):
    """Build if needed; return the runtime classpath."""
    jars = _sbt_setting(root, r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')
    scala = _sbt_setting(root, r'scalaVersion\s*:=\s*"([^"]+)"')
    build = os.path.join(root, ".bench_build")
    classes = os.path.join(build, "classes")
    srcs = _sources(root)
    h = hashlib.sha256(scala.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(build, "stamp")
    cp = [classes]
    resources = os.path.join(root, "src/main/resources")
    if os.path.isdir(resources):
        cp.append(resources)
    cp.append(os.path.join(jars, "*"))
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return os.pathsep.join(cp)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{j}-{scala}.jar")
                               for j in ("compiler", "library", "reflect"))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-cp", os.path.join(jars, "*")] + srcs,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed with exit code {r.returncode}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return os.pathsep.join(cp)


if __name__ == "__main__":
    print(classpath())
