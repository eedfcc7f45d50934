"""Build file of the benchmark: compiles the library (`src/main/scala`) and
the harness (`bench/scala`) in one scalac pass, against the Spark jars of
the installed Spark (`$SPARK_HOME/jars`, or the one `spark-submit` on PATH
belongs to; its scala-compiler jar is the compiler).

    python3 bench/build.py          # prints the harness jar

Output goes to `.bench_build/perfbench.jar`; a stamp over every source file
skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark jars found: set SPARK_HOME")
    return jars


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise BuildError(f"library sources missing: {lib}")
    files = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(ROOT, "bench", "scala", "**", "*.scala"),
                              recursive=True))
    return files


def build():
    """Compile if needed; return (harness jar, runtime classpath list).

    The classes go into one jar because a JVM class-data-sharing archive
    (CDS_ARCHIVE, written by the first harness run) accepts only jars on
    the class path. A rebuild drops the archive with the classes it lists.
    """
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files + jars:
        h.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, "classes")
    jar = os.path.join(BUILD, "perfbench.jar")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar, [jar] + jars
    for stale in (stamp_file, jar, CDS_ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, names in sorted(os.walk(out)):
            for n in sorted(names):
                path = os.path.join(d, n)
                z.write(path, os.path.relpath(path, out))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar, [jar] + jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(str(e))
