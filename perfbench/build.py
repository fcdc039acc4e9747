"""Build file of the benchmark: compiles the library under src/main/scala
together with the benchmark under perfbench/src into
perfbench/.build/classes, with the Scala compiler that ships in Spark's
jars directory. A stamp over every source file's path and content makes a
rebuild happen only when a source changed.

Run directly (`python3 perfbench/build.py`) to build without running.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH_DIR / "src"
BUILD_DIR = BENCH_DIR / ".build"
CLASSES = BUILD_DIR / "classes"
STAMP = BUILD_DIR / "stamp"
COMPILER_FLAGS = ["-nowarn", "-Ybackend-parallelism", "4"]


class BuildError(Exception):
    pass


def spark_home() -> Path:
    """SPARK_HOME, else the installation that owns `spark-submit`."""
    env = os.environ.get("SPARK_HOME")
    if env and (Path(env) / "jars").is_dir():
        return Path(env)
    submit = shutil.which("spark-submit")
    if submit:
        home = Path(os.path.realpath(submit)).parent.parent
        if (home / "jars").is_dir():
            return home
    raise BuildError("no Spark installation: set SPARK_HOME")


def spark_jars() -> list:
    jars = sorted((spark_home() / "jars").glob("*.jar"))
    if not jars:
        raise BuildError("Spark jars directory is empty")
    return jars


def sources() -> list:
    if not LIB_SRC.is_dir():
        raise BuildError(f"library sources not found at {LIB_SRC}")
    found = sorted(LIB_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not found:
        raise BuildError("no Scala sources to compile")
    return found


def _digest(files: list) -> str:
    h = hashlib.sha256(" ".join(COMPILER_FLAGS).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr) -> Path:
    """Compile if any source changed; return the classes directory."""
    files = sources()
    jars = spark_jars()
    digest = _digest(files)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == digest:
        return CLASSES
    compiler = [j for j in jars if j.name.startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) < 3:
        raise BuildError("scala-compiler/library/reflect jars not found")
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    staging = BUILD_DIR / "classes.partial"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir()
    argfile = BUILD_DIR / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD_DIR}",
           "-cp", os.pathsep.join(str(j) for j in compiler),
           "scala.tools.nsc.Main",
           "-classpath", os.pathsep.join(str(j) for j in jars),
           "-d", str(staging), *COMPILER_FLAGS, f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        raise BuildError("compilation failed:\n" + res.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    staging.rename(CLASSES)
    STAMP.write_text(digest)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
