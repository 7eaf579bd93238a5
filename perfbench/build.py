"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the benchmark
harness (`perfbench/src`) into `.bench_build/classes` with the Scala
compiler that ships in the Spark distribution, against the Spark jars
the engine's sbt build uses. The output is reused while no source file
changes.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
SCALA_VERSION = "2.13.17"


def spark_home():
    """SPARK_HOME, else the first `spark-submit` on PATH that sits in a
    Spark distribution (one with a `jars` directory)."""
    candidates = [os.environ.get("SPARK_HOME")] + [
        str(Path(d) / "..") for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").is_file()]
    for c in filter(None, candidates):
        home = Path(c).resolve()
        if (home / "jars" / f"scala-compiler-{SCALA_VERSION}.jar").is_file():
            return home
    raise RuntimeError("no Spark distribution found: set SPARK_HOME")


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((ROOT / "perfbench" / "src").glob("*.scala"))
    if not engine:
        raise RuntimeError(f"no engine sources under {ROOT / 'src/main/scala'}")
    return engine + bench


def jars():
    found = sorted((spark_home() / "jars").glob("*.jar"))
    if not found:
        raise RuntimeError(f"no Spark jars in {spark_home() / 'jars'}")
    return found


def classpath():
    return os.pathsep.join([str(CLASSES)] + [str(j) for j in jars()])


def stamp(files):
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if any source changed; return the classpath."""
    files = sources()
    want = stamp(files)
    mark = BUILD / "classes.stamp"
    if CLASSES.is_dir() and mark.is_file() and mark.read_text() == want:
        return classpath()
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = [str(spark_home() / "jars" / f"scala-{n}-{SCALA_VERSION}.jar")
                for n in ("compiler", "library", "reflect")]
    args_file = BUILD / "scalac.args"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss4m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", os.pathsep.join(str(j) for j in jars()),
           f"@{args_file}"]
    print(f"[perfbench] compiling {len(files)} Scala files", file=log)
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        print(res.stdout[-4000:], file=log)
        raise RuntimeError("scalac failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    mark.write_text(want)
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except RuntimeError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
