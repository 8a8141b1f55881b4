"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own sources into one class directory under .bench_build/.

Compilation uses the Scala compiler that ships among Spark's jars, so no
build tool or dependency download is needed. The output directory is keyed
by a hash of every source file, so an unchanged tree builds once.

    python3 perfbench/build.py     # build, print the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_home():
    """$SPARK_HOME, else the installation whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""


SPARK_JARS = os.path.join(_spark_home(), "jars")
BUILD_DIR = os.path.join(ROOT, ".bench_build")

# Module options Spark needs on JDK 17 outside spark-submit (the list in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def _scala_sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed; return the class directory."""
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("graft sources not found at src/main/scala")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    if shutil.which("java") is None:
        raise BuildError("java not found")
    resources = os.path.join(ROOT, "src", "main", "resources")
    sources = _scala_sources(main) + _scala_sources(os.path.join(HERE, "src"))
    digest = hashlib.sha256()
    for path in sources + [os.path.join(d, f) for d, _, fs in os.walk(resources) for f in sorted(fs)]:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    out = os.path.join(BUILD_DIR, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in os.listdir(BUILD_DIR):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD_DIR, old))
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp)
        raise BuildError(f"scalac exited with {r.returncode}")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    os.rename(tmp, out)
    open(os.path.join(out, ".complete"), "w").close()
    return out


def java_command(classes, run_dir, heap):
    """The JVM launch line: fixed heap, Spark settings as Boot.buildSession
    expects them, and every scratch path inside `run_dir`."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return ["java", f"-Xms{heap}", f"-Xmx{heap}", *opens,
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.adaptive.enabled=true",
            f"-Dspark.local.dir={run_dir}/spark-local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*")]


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
