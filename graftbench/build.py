"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark's own (graftbench/src) into one class
directory, with the Scala compiler that ships in Spark's jars
($SPARK_HOME/jars, else the directory build.sbt compiles against).

    python3 graftbench/build.py        # from the repository root

The class directory is keyed by a digest of every source file, so an
unchanged tree is not rebuilt. Output goes under $CARGO_TARGET_DIR
(default .bench_build) in the repository root.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                jars = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read()).group(1)
        except (OSError, AttributeError):
            raise BuildError("set SPARK_HOME: build.sbt names no Spark jar directory")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(d if os.path.isabs(d) else os.path.join(ROOT, d), "graftbench")


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not graft:
        raise BuildError("graft's sources (src/main/scala) are missing")
    bench = sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    return graft + bench


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return (class dir, source digest)."""
    files = sources()
    digest = source_digest(files)
    jars = spark_jars()
    out = build_dir()
    classes = os.path.join(out, "classes-" + digest[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes, digest
    os.makedirs(out, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx1536m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    for old in glob.glob(os.path.join(out, "classes-*")):
        if not old.endswith(".tmp"):
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    open(os.path.join(classes, ".ok"), "w").close()
    return classes, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
