"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the harness (perfbench/scala) with the Scala
compiler that ships in Spark's jars directory: the `unmanagedBase` that the
repository's build.sbt declares, else $SPARK_HOME/jars. No sbt, no dependency
resolution: the classpath is exactly Spark's jars, as for the program itself.

The classes go to <build_dir>/classes; a stamp of the sources' hash skips the
compile when nothing changed. Run it alone with
`python3 perfbench/build.py [build_dir]`.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "scala")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory the program's own build compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    declared = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                         open(sbt).read()) if os.path.isfile(sbt) else None
    candidates = ([declared.group(1)] if declared else []) + (
        [os.path.join(os.environ["SPARK_HOME"], "jars")] if "SPARK_HOME" in os.environ else [])
    for jars in candidates:
        if os.path.isdir(jars):
            return jars
    raise BuildError(f"Spark jars not found (tried {candidates}; set SPARK_HOME)")


def sources():
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise BuildError(f"program sources not found under {PROGRAM_SRC}")
    found = []
    for base in (PROGRAM_SRC, HARNESS_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def source_hash(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Return (classes dir, source hash), compiling if the sources changed."""
    files = sources()
    digest = source_hash(files)
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(classes, ".stamp")
    if os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return classes, digest
    os.makedirs(build_dir, exist_ok=True)
    tmp = os.path.join(build_dir, f"classes.tmp.{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, f"sources.{os.getpid()}.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(digest + "\n")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, digest


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    try:
        print(build(os.path.abspath(out))[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
