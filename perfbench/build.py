"""Build file of the benchmark: compiles the program from source.

The program (`src/main/scala`, with `src/main/resources` for the
DataSourceRegister services file) and the benchmark's own harness
(`perfbench/src`) are compiled in one `scalac` call, using the Scala
compiler that ships with the Spark jars, into
`.bench_build/classes-<digest>/`. The digest covers every source and
resource, so an unchanged tree is compiled once and reused.

    python3 perfbench/build.py          # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars, `$SPARK_HOME/jars`."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise BuildError("no Spark jars: set SPARK_HOME to a Spark distribution")
    return jars


def _sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"),
                                      recursive=True) if os.path.isfile(p))
    return main + own, res


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def classpath(classes):
    return f"{classes}:{spark_jars()}/*"


def build(log=sys.stderr):
    """Compile if needed; return (classes_dir, source_digest)."""
    srcs, res = _sources()
    digest = _digest(srcs + res)
    classes = os.path.join(BUILD, f"classes-{digest}")
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes, digest
    jars = spark_jars()
    compiler = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jars, f"{name}-2.13*.jar")))
        if not found:
            raise BuildError(f"{name} 2.13 jar not found in {jars}")
        compiler.append(found[-1])
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "-classpath", f"{jars}/*", "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    res_root = os.path.join(ROOT, "src/main/resources")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(os.path.join(tmp, ".ok"), "w") as f:
        f.write(digest + "\n")
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.replace(tmp, classes)
    return classes, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
