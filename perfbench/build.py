"""Build file of the benchmark: compiles the program (src/main/scala)
and the harness (perfbench/harness) with scalac into one class
directory under .bench_build/, keyed by a hash of every source file,
so an unchanged tree is compiled once per checkout.

    python3 perfbench/build.py        # prints the class directory

The compiler, the Scala library and Spark all come from the Spark
distribution's jars ($SPARK_HOME/jars, else the pyspark package's).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")

# the JDK 17 module openings Spark needs outside spark-submit (the
# same list as build.sbt's jdk17AddOpens)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
    except ImportError:
        sys.exit("perfbench: no Spark jars (set SPARK_HOME)")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "harness/**/*.scala"),
                               recursive=True))
    return main + harness


def build():
    """Compile if needed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(ROOT, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
           "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: scalac failed ({r.returncode})")
    os.remove(args)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, ".complete"), "w").close()
    for stale in glob.glob(os.path.join(ROOT, ".bench_build", "classes-*")):
        if stale != out:
            shutil.rmtree(stale, ignore_errors=True)
    return out


def classpath():
    return build() + os.pathsep + os.path.join(spark_jars(), "*")


if __name__ == "__main__":
    print(build())
