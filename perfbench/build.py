"""Build file of the benchmark: compiles the program under test
(src/main/scala of the checkout) together with the benchmark's JVM harness
(perfbench/scala) with the Scala compiler that ships in Spark's jars, then
dumps the repo's oracle SQL for the benchmarked queries.

The output lands in .bench_build/classes-<hash of every compiled source>,
so an unchanged tree builds once and a changed one rebuilds.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "scala")
OUT = os.path.join(ROOT, ".bench_build")

# the module-opening flags Spark 4 needs on JDK 17 outside spark-submit,
# as in the repo's build.sbt
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise BuildError("SPARK_HOME with jars/scala-compiler-*.jar is required")
    return os.path.join(home, "jars", "*")


def sources():
    if not os.path.isdir(MAIN_SRC):
        raise BuildError(f"program sources not found: {MAIN_SRC}")
    files = sorted(glob.glob(os.path.join(MAIN_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HARNESS_SRC, "**", "*.scala"), recursive=True))
    if not any(f.startswith(MAIN_SRC) for f in files):
        raise BuildError("no program sources to compile")
    return files


def build():
    """Return the classes directory, compiling first if needed."""
    files = sources()
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, "oracles.json")):
        return classes
    jars = spark_jars()
    tmp = classes + ".tmp"
    # scalac runs from OUT with an explicit classpath: its default
    # classpath is the working directory, where perfbench/scala would
    # read as a package
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    res = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-classpath", tmp, "-d", tmp, "@" + argfile],
        cwd=OUT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    res = subprocess.run(
        ["java", "-XX:-UsePerfData", *ADD_OPENS, "-cp", f"{tmp}{os.pathsep}{jars}", "perfbench.Main",
         "oracles", os.path.join(tmp, "oracles.json")],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("oracle SQL dump failed:\n" + res.stdout[-4000:])
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def classpath(classes):
    return f"{classes}{os.pathsep}{spark_jars()}"


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
