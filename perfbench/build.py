"""Build file of the benchmark: compiles the engine and the benchmark program.

The engine sources (`src/main/scala` of the checkout) and the benchmark's
sources (`perfbench/src`) compile with the Scala compiler that ships with
Spark (`$SPARK_HOME/jars`, or the installation `spark-submit` on the PATH
belongs to), into two class directories under the build directory.
Each stage is stamped with a hash of its inputs, so an unchanged tree is not
compiled again. Usage: `python3 perfbench/build.py` from the checkout root.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def _spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""


SPARK_JARS = os.path.join(_spark_home(), "jars")
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {SPARK_JARS}")
    return jars


def _sources(src_dir):
    out = []
    for d, _, files in os.walk(src_dir):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, sources, classpath):
    out = os.path.join(BUILD_DIR, name)
    stamp_file = out + ".stamp"
    stamp = _stamp(sources, ":".join(classpath))
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [os.path.join(SPARK_JARS, f"scala-{p}-{SCALA_VERSION}.jar")
                for p in ("compiler", "library", "reflect")]
    missing = [c for c in compiler if not os.path.exists(c)]
    if missing:
        raise BuildError(f"Scala compiler jars missing: {missing}")
    args_file = out + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(sources))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(classpath),
           "-d", out, "@" + args_file]
    print(f"[perfbench] compiling {name}: {len(sources)} sources", file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise BuildError(f"compiling {name} failed (exit {res.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def build():
    """Compile both stages if stale; return the runtime classpath list."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    engine_sources = _sources(engine_src)
    if not engine_sources:
        raise BuildError(f"no engine sources under {engine_src}: run from the repo root")
    os.makedirs(BUILD_DIR, exist_ok=True)
    jars = spark_jars()
    engine = _compile("engine-classes", engine_sources, jars)
    bench = _compile("perfbench-classes", _sources(os.path.join(BENCH_DIR, "src")),
                     [engine] + jars)
    return [bench, engine] + jars


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
