"""Build file of the benchmark package.

Compiles the repository's main sources (src/main/scala), then the
harness (perfbench/scala) against them, with the Scala compiler that
ships in Spark's jars directory, into perfbench/.work/classes-main-<digest>
and perfbench/.work/classes-bench-<digest>. The digests cover every
source file, so an unchanged tree reuses its classes and any edit
rebuilds. Nothing is written outside perfbench/.work.

    python3 perfbench/build.py     # build only, print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Spark 4 on JDK 17 outside spark-submit needs these (the list
# spark-submit injects, as in the repository's build.sbt)
JVM_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark jars with a Scala compiler found "
                         "(set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources(d):
    files = []
    for dirpath, _, names in os.walk(d):
        files += [os.path.join(dirpath, n) for n in names
                  if n.endswith(".scala")]
    return sorted(files)


def digest(files, h=None):
    h = h or hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h


def compile_into(out, files, classpath):
    """scalac `files` into `out` unless a finished build is there."""
    if os.path.isfile(os.path.join(out, ".done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", spark_jars(),
         "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
         "-classpath", os.pathsep.join([out] + classpath), "-d", out,
         "@" + argfile],
        stdout=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError(f"scalac exited {r.returncode}")
    open(os.path.join(out, ".done"), "w").close()
    return out


def build():
    """Compile the program, then the harness against it; return the
    classpath of both. Each has its own digest, so editing the harness
    does not recompile the program."""
    spark_jars()
    main_dir = os.path.join(ROOT, "src", "main", "scala")
    main = sources(main_dir)
    if not main:
        raise BuildError(f"program sources not found at {main_dir}")
    bench = sources(os.path.join(HERE, "scala"))
    h = digest(main)
    main_out = os.path.join(WORK, "classes-main-" + h.hexdigest()[:16])
    bench_out = os.path.join(
        WORK, "classes-bench-" + digest(bench, h).hexdigest()[:16])
    os.makedirs(WORK, exist_ok=True)
    for old in glob.glob(os.path.join(WORK, "classes-*")):
        if old not in (main_out, bench_out):
            shutil.rmtree(old, ignore_errors=True)
    compile_into(main_out, main, [])
    compile_into(bench_out, bench, [main_out])
    return os.pathsep.join([bench_out, main_out])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
