"""Build file of the benchmark: compiles the engine's main sources and the
benchmark's own Scala sources with the Scala compiler that ships among the
Spark jars the repository's build.sbt names (`unmanagedBase`).

    python3 perfbench/build.py        # build (or reuse) and print the dir

The classes go to `$CARGO_TARGET_DIR` (default `.bench_build`) under the
repository root, in a directory named by a digest of every source file, so
an unchanged tree is never rebuilt and a changed one always is.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """The jar directory build.sbt compiles against."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        raise SystemExit("perfbench: no build.sbt next to the benchmark; "
                         "run it from a checkout of the repository")
    with open(path) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        raise SystemExit("perfbench: build.sbt names no jar directory "
                         "holding the Scala compiler")
    return m.group(1)


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in files):
        raise SystemExit("perfbench: the engine's sources (src/main/scala) "
                         "are missing")
    return sorted(files)


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def ensure_built():
    """Return the classes directory for the current sources, compiling
    them first when no build of exactly these sources exists."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    out = out_dir()
    classes = os.path.join(out, "classes-" + digest.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    os.makedirs(out, exist_ok=True)
    for old in glob.glob(os.path.join(out, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(ensure_built())
