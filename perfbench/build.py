"""Build file of the pipeline benchmark.

Compiles the program (`src/main/scala`) together with the benchmark's JVM
harness (`perfbench/scala`) with the Scala compiler that ships in the
Spark distribution, into `.bench_build/perfbench/<source hash>/classes`
under the checkout.  A tree whose sources are unchanged is not rebuilt.
The Spark jars are the ones the project's build.sbt names
(`unmanagedBase`), or `$SPARK_HOME/jars` when SPARK_HOME is set.

    python3 perfbench/build.py        # prints the classpath it built
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(REPO, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark jars: set SPARK_HOME or unmanagedBase in build.sbt")
    return m.group(1)


def sources():
    main = os.path.join(REPO, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"program sources not found: {os.path.relpath(main, REPO)}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return files


def build(log=sys.stderr):
    """Compile if needed; return the classpath that runs the harness."""
    files = sources()
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars not found at {jars} (set SPARK_HOME)")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(REPO, ".bench_build", "perfbench", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, "ok")):
            compile_into(out, classes, files, jars, log)
    return f"{classes}:{jars}/*"


def compile_into(out, classes, files, jars, log):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    # run from the output directory: scalac's default classpath is the
    # working directory, where `perfbench/scala` would read as a package
    p = subprocess.run(cmd, cwd=out, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    open(os.path.join(out, "ok"), "w").close()


def java_command(cp, heap, tmpdir, main, *args):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}", "-Xss8m", *opens, f"-Djava.io.tmpdir={tmpdir}",
            "-cp", cp, main, *args]


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
