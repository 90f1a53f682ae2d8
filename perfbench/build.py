"""Build file of the benchmark: compiles the library sources (src/main/scala)
and the benchmark sources (perfbench/src) into one class directory with the
Scala compiler that ships with Spark.

Usage, from the repository root:  python3 perfbench/build.py
The classes go to $CARGO_TARGET_DIR/perfbench/classes (default .bench_build);
an unchanged source tree is not compiled again.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCALA = "2.13.17"


class BuildError(Exception):
    pass


def target_dir() -> Path:
    t = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return t if t.is_absolute() else ROOT / t


def spark_jars() -> Path:
    """The jars of a Spark install with the Scala compiler: $SPARK_HOME, else
    the first spark-submit on PATH whose install has it."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else []
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if d and (Path(d) / "spark-submit").is_file():
            homes.append(Path(d).resolve().parent)
    for home in homes:
        if (Path(home) / "jars" / f"scala-compiler-{SCALA}.jar").is_file():
            return Path(home) / "jars"
    raise BuildError(f"no Spark install with scala-compiler-{SCALA}.jar: set SPARK_HOME")


def sources() -> list:
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        raise BuildError(f"library sources not found under {lib}")
    found = sorted(lib.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    return found


def build() -> Path:
    """Compiles if the sources changed since the last build; returns the
    class directory."""
    srcs = sources()
    jars = spark_jars()
    compiler = [jars / f"scala-{m}-{SCALA}.jar" for m in ("compiler", "library", "reflect")]
    h = hashlib.sha256()
    for f in srcs + [Path(__file__).resolve()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    out = target_dir() / "perfbench" / "classes"
    stamp = out.parent / "classes.stamp"
    if out.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = out.parent / "sources.txt"
    argfile.write_text("".join(f'"{s}"\n' for s in srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx1536m", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"),
           "-d", str(out), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    stamp.write_text(digest)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
