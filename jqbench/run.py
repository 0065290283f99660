"""JqBench entry point: builds graft and the benchmark if needed, runs one
workload in a fresh JVM and prints its metrics. The last stdout line is one
JSON object {correct, attempted, failed, metrics}.

    python3 jqbench/run.py --workload extract_wide --seed 1 --seconds 10 --trace 0

Exit codes: 0 = ran and every output matched its reference; 2 = ran but an
output mismatched (the JSON line says correct: false); 1 = could not run
(no sources, build failure, crash, timeout) — nothing is printed on stdout
then.
"""
import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["extract_wide", "explode_transform", "corrupt_recover"]
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (as in the repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"jqbench: {e}", file=sys.stderr)
        return 1

    work = build.OUT / "run"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [build.java(), "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xmn1g",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={build.HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "jqbench.JqBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out-dir", str(work)]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"jqbench: run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
        return 1
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError, IndexError):
        sys.stderr.write(out)
        print(f"jqbench: JVM exited {proc.returncode} without a result", file=sys.stderr)
        return 1
    if proc.returncode not in (0, 2):
        sys.stderr.write(out)
        print(f"jqbench: JVM exited {proc.returncode}", file=sys.stderr)
        return 1
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return 0 if result["correct"] else 2


if __name__ == "__main__":
    sys.exit(main())
