"""Build file of the benchmark package: compiles graft's main sources and the
benchmark's own sources into one class directory with the Scala compiler that
ships among Spark's jars, so no sbt and no dependency download is involved.

    python3 perfbench/build.py        # from the repository root

The build is skipped when a stamp over every source file, the jar list and
the JDK version matches the previous build.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars_dir(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("build.sbt not found: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("cannot locate Spark jars (set SPARK_HOME)")
    return m.group(1)


def jars(root):
    found = sorted(glob.glob(os.path.join(spark_jars_dir(root), "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in found):
        raise BuildError("no scala-compiler jar next to the Spark jars")
    return found


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    return main + bench


def java_version():
    out = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True)
    return out.stderr.strip().splitlines()[0] if out.stderr else "unknown"


def stamp(root, srcs, cp):
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in cp:
        h.update(os.path.basename(j).encode())
    h.update(java_version().encode())
    return h.hexdigest()


def source_digest(root):
    """sha256 over the program's and the benchmark's sources: identifies the
    code measured when the checkout carries no git metadata."""
    h = hashlib.sha256()
    for path in sources(root):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile if stale; return (classes_dir, classpath_jars)."""
    cp = jars(root)
    srcs = sources(root)
    want = stamp(root, srcs, cp)
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(out, "BUILD_STAMP")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return out, cp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, BUILD_DIR, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    classpath = os.pathsep.join(cp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath, "@" + argfile]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise BuildError("scalac failed with exit code %d" % res.returncode)
    with open(os.path.join(tmp, "BUILD_STAMP"), "w") as f:
        f.write(want)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, cp


if __name__ == "__main__":
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        print(build(repo)[0])
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
