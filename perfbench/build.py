"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` of the checkout, plus its
`src/main/resources`) together with the harness (`perfbench/src`) with
the Scala compiler that ships in Spark's jar directory, into
`<build dir>/<source hash>/classes`. A build whose sources are
unchanged is reused.

    python3 perfbench/build.py      # prints the classes directory
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


def spark_jars_dir():
    """The jar directory the project's sbt build compiles against
    (`unmanagedBase` in build.sbt), else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("no Spark jar directory: set SPARK_HOME")


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {spark_jars_dir()}")
    return os.pathsep.join(jars)


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(engine, "graft", "SparkEntry.scala")):
        raise SystemExit(f"engine sources not found under {engine}")
    found = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build_dir():
    # the build-output directory the caller designates, else .bench_build
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def build():
    """Compiles if needed and returns the classes directory."""
    srcs = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for f in srcs + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(), "perfbench-" + h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "OK")):
        return classes
    for old in glob.glob(os.path.join(build_dir(), "perfbench-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cp = spark_classpath()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compilation failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    open(os.path.join(out, "OK"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
