"""Build file of the benchmark package: compiles the repository's main
sources (`src/main/scala`) and the harness (`perfbench/src`) with the Scala
compiler shipped in the Spark distribution, into `.bench_build/`.

Each of the two stages is skipped when the digest of its inputs matches
the one recorded by its last successful build.

    python3 perfbench/build.py      # prints the classpath on success
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_home():
    """$SPARK_HOME, else the first `spark-submit` on PATH whose distribution
    ships its jars."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return home
    return ""


SPARK_HOME = spark_home()
JARS = os.path.join(SPARK_HOME, "jars", "*")


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def stage(name, srcs, classpath):
    out = os.path.join(BUILD, name)
    stamp = os.path.join(BUILD, name + ".sha256")
    want = digest(srcs)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out
    if not srcs:
        raise SystemExit(f"build: no sources for {name}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, name + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", JARS, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit(f"build: compiling {name} failed")
    with open(stamp, "w") as fh:
        fh.write(want)
    return out


def stamp():
    """The digest of what the last build compiled (both stages' sources)."""
    h = hashlib.sha256()
    for name in ("classes-main", "classes-bench"):
        with open(os.path.join(BUILD, name + ".sha256")) as fh:
            h.update(fh.read().encode())
    return h.hexdigest()[:16]


def build():
    """Compile both stages if needed; return the runtime classpath."""
    if not glob.glob(os.path.join(SPARK_HOME, "jars", "spark-sql_*.jar")):
        raise SystemExit("build: no Spark distribution found; set SPARK_HOME")
    os.makedirs(BUILD, exist_ok=True)
    main = stage("classes-main", sources(os.path.join(ROOT, "src", "main", "scala")), JARS)
    bench = stage("classes-bench", sources(os.path.join(ROOT, "perfbench", "src")),
                  main + os.pathsep + JARS)
    return os.pathsep.join([bench, main, JARS])


if __name__ == "__main__":
    print(build())
