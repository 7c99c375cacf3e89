"""Builds the engine (src/main/scala) and the harness (graftbench/scala)
with the Scala compiler that ships among the Spark jars, into
.bench_build/graftbench/. A build is reused while every source file is
unchanged.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


# Spark on JDK 17 needs these outside spark-submit (the repository's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def jvm_flags(heap, tmp):
    # no hsperfdata files: the JVM would write them outside the checkout
    flags = ["-XX:-UsePerfData"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags + [f"-Xmx{heap}", f"-Xms{heap}", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
                    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def spark_jars(repo):
    """The Spark jar directory: $SPARK_JARS, else the repository build's
    `unmanagedBase`."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    with open(os.path.join(repo, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        sys.exit("graftbench: no unmanagedBase in build.sbt; set SPARK_JARS")
    return m.group(1)


def classpath(repo, classes):
    return f"{classes}:{os.path.join(spark_jars(repo), '*')}"


def sources(repo):
    roots = [os.path.join(repo, "src", "main", "scala"),
             os.path.join(repo, "graftbench", "scala")]
    files = []
    for r in roots:
        if not os.path.isdir(r):
            sys.exit(f"graftbench: missing source tree {r}")
        files += glob.glob(os.path.join(r, "**", "*.scala"), recursive=True)
    return sorted(files)


def ensure(repo):
    """Path of up-to-date class files, compiling if needed."""
    files = sources(repo)
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, repo).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    out = os.path.join(repo, ".bench_build", "graftbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp",
           os.path.join(spark_jars(repo), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + args_file]
    # compiled from the output directory: scalac puts the working
    # directory on its class path, where graftbench/scala would read as
    # a package shadowing the `scala` root package
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                         cwd=out)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        sys.exit("graftbench: build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes
