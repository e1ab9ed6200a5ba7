"""Build file of the relabel-pipeline benchmark.

Compiles the engine (``src/main/scala`` of the checkout) and the benchmark's
own sources (``perfbench/src``) with the Scala compiler that ships in
Spark's ``jars`` directory, so the build needs neither sbt nor a network.
Class files go under ``<build dir>/classes``; a stamp over the source files
of each part makes a run with unchanged sources skip its compile.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set; the benchmark needs Spark's jars")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars) or not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return os.path.join(jars, "*")


def _sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(jars, classpath, out, files):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", classpath, "@" + argfile]
    try:
        subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=COMPILE_TIMEOUT_S)
    except subprocess.CalledProcessError as e:
        raise BuildError(f"scalac failed for {out}") from e
    finally:
        os.remove(argfile)


def build():
    """Compile if needed; return the runtime classpath and whether it compiled."""
    jars = spark_jars()
    engine = _sources(ENGINE_SRC)
    bench = _sources(BENCH_SRC)
    if not engine:
        raise BuildError(f"no engine sources under {ENGINE_SRC}: run from a checkout root")
    if not bench:
        raise BuildError(f"no benchmark sources under {BENCH_SRC}")
    classes = os.path.join(build_dir(), "classes")
    engine_out = os.path.join(classes, "engine")
    bench_out = os.path.join(classes, "bench")
    engine_stamp = _stamp(engine)
    # the benchmark is rebuilt whenever the engine it links against is
    steps = [(engine_out, engine_stamp, engine, jars),
             (bench_out, engine_stamp + _stamp(bench), bench, os.pathsep.join([engine_out, jars]))]
    compiled = False
    for out, stamp, files, classpath in steps:
        stamp_file = out + ".stamp"
        if compiled or not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
            shutil.rmtree(out, ignore_errors=True)
            _scalac(jars, classpath, out, files)
            with open(stamp_file, "w") as fh:
                fh.write(stamp)
            compiled = True
    classpath = os.pathsep.join([bench_out, engine_out, os.path.abspath(ENGINE_RES), jars])
    return classpath, compiled


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
