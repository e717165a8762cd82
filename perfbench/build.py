"""Build file of the benchmark: compiles the library (`src/main/scala`)
together with the benchmark's own Scala sources (`perfbench/scala`) with
the Scala compiler that ships in the Spark distribution, the same jars
the repository's sbt build compiles against.

Classes go to `.bench_build/classes-<digest>`, keyed by a digest of every
source file and the jar list, so an unchanged tree is never rebuilt.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars(root="."):
    """The Spark jar directory: `$SPARK_HOME/jars`, else the directory the
    repository's build file names as `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def sources(root="."):
    lib = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    if not lib:
        raise SystemExit("build: no library sources under src/main/scala")
    return lib + own


def build(root="."):
    """Compile if needed; return (classes_dir, classpath)."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    cp = os.path.join(jars, "*")
    if not os.path.isfile(os.path.join(out, "BUILD_OK")):
        for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(out)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", out, "-classpath", cp] + srcs
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("build: scalac failed")
        open(os.path.join(out, "BUILD_OK"), "w").close()
    return out, out + os.pathsep + cp


if __name__ == "__main__":
    print(build()[0])
