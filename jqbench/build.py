"""Build file of the benchmark: compiles graft (src/main/scala) together
with the benchmark's own sources (jqbench/src) with the Scala compiler that
ships in Spark's jars, into .bench_build/jqbench/classes-<hash>.

The hash covers every source file, so a checkout whose sources change gets
a fresh build and an unchanged one reuses its classes.

    python3 jqbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "jqbench"


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark install that SPARK_HOME names."""
    jars = Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not os.environ.get("SPARK_HOME") or not list(jars.glob("spark-sql_*.jar")):
        raise BuildError("no Spark jars under $SPARK_HOME/jars; set SPARK_HOME to a Spark 4 install")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise BuildError(f"no graft sources under {ROOT / 'src' / 'main' / 'scala'}")
    return main + sorted((HERE / "src").glob("*.scala"))


def build():
    """Return the classes directory, compiling it if it does not exist yet."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in sorted(jars.glob("scala-*.jar")):
        h.update(j.name.encode())
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    if (classes / "BUILD_OK").exists():
        return classes
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = OUT / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = OUT / f"sources-{os.getpid()}.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = [java(), "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile timed out")
    finally:
        argfile.unlink(missing_ok=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compile failed with exit code {r.returncode}")
    (tmp / "BUILD_OK").write_text("ok\n")
    try:
        tmp.rename(classes)
    except OSError:  # another run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(1)
