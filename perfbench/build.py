"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's Scala client (perfbench/scala) with the Scala compiler that ships in
Spark's jar directory, into <build dir>/classes-<source hash>.

    python3 perfbench/build.py            # prints the classes directory

The build directory is $CARGO_TARGET_DIR if set, else .bench_build, both
relative to the repository root. A build whose sources are unchanged is
reused.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RESOURCES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "scala")
COMPILE_TIMEOUT_S = 840


class BuildError(Exception):
    pass


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the build.sbt's
    unmanagedBase, else the jars bundled with the pyspark package."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    if os.path.isfile("build.sbt"):
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and \
                glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return os.path.abspath(c)
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources():
    for d in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {d}: run from the "
                             "repository root")
    out = []
    for d in (ENGINE_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    if not any(s.startswith(ENGINE_SRC) for s in out):
        raise BuildError(f"no engine sources under {ENGINE_SRC}")
    return sorted(out)


def classpath(classes, jars):
    parts = [classes]
    if os.path.isdir(ENGINE_RESOURCES):
        parts.append(os.path.abspath(ENGINE_RESOURCES))
    parts.append(os.path.join(jars, "*"))
    return os.pathsep.join(parts)


def build():
    """Compile if needed; returns (classes dir, Spark jar dir)."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out, jars
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(os.path.abspath(s) for s in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=COMPILE_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        raise BuildError("compilation timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise BuildError("compilation failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
