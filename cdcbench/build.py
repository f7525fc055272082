"""Build of the benchmark: the program's sources plus the harness, compiled
with the Scala compiler that ships in Spark's jar directory, the same jars
build.sbt compiles against (its ``unmanagedBase``).

The classes land in ``.bench_build/cdcbench-<hash>/classes`` under the
checkout, keyed by a hash of every source file, so a checkout builds once
and a changed source rebuilds. Run ``python3 cdcbench/build.py`` to build
without running anything.
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
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class MissingProgram(Exception):
    pass


def program_sources(root=ROOT):
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not os.path.isfile(os.path.join(root, "build.sbt")) or not srcs:
        raise MissingProgram(f"no program sources under {root} (build.sbt, src/main/scala)")
    return srcs + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def spark_jars(root=ROOT):
    """The jar directory build.sbt compiles against: $SPARK_HOME/jars, or
    build.sbt's ``unmanagedBase`` when SPARK_HOME is unset."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        cands.append(m.group(1))
    for d in cands:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if any("scala-compiler" in os.path.basename(j) for j in jars):
            return jars
    raise MissingProgram("no Spark jar directory with a Scala compiler found")


def _pick(jars, prefix):
    return next(j for j in jars if os.path.basename(j).startswith(prefix))


def ensure_built(root=ROOT, log=sys.stderr):
    """Compile if needed; returns the Java classpath that runs the harness."""
    srcs = program_sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    out = os.path.join(BUILD_DIR, "cdcbench-" + h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    classpath = os.pathsep.join([classes] + jars)
    if os.path.isfile(os.path.join(out, "ok")):
        return classpath
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", os.path.join(tmp, "classes"),
                           "-classpath", os.pathsep.join(jars)] + srcs) + "\n")
    compiler = os.pathsep.join(_pick(jars, p) for p in
                               ("scala-compiler", "scala-library", "scala-reflect"))
    print(f"building {len(srcs)} sources into {out}", file=log, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
                    "scala.tools.nsc.Main", "@" + argfile],
                   check=True, stdout=log, stderr=log)
    open(os.path.join(tmp, "ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return classpath


if __name__ == "__main__":
    try:
        ensure_built()
    except MissingProgram as e:
        sys.exit(f"cdcbench build: {e}")
