"""Steadiness self-check: reruns workloads with different seeds and reports,
for each end-to-end metric, the run-to-run spread (distance between the
first and third quartile over the median) against the metric's bound in
BENCHMARK.json. With --sets 2 it repeats the whole set and also compares
the two medians.

    python3 jqbench/steady.py                        # every workload, 10 runs
    python3 jqbench/steady.py --workloads explode_transform --runs 5

A spread below a third of the bound reads "ok", up to the bound "wide", and
beyond it "FAIL" (setup_s is exempt from the spread test, not from the
median test). Exits 1 on any FAIL. Raw results go to
.bench_build/jqbench/steady-<time>.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(cmd, workload, seed, seconds, trace):
    r = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                              "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {r.returncode}")
    return json.loads(r.stdout.strip().split("\n")[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=[1, 2], default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()

    metrics = bench["end_to_end"]
    raw = {}
    failed = False
    for wl in a.workloads.split(","):
        medians = []
        for s in range(a.sets):
            seeds = [a.first_seed + s * 1000 + i for i in range(a.runs)]
            results = []
            for seed in seeds:
                res = run_once(bench["command"], wl, seed, bench["run_seconds"], 0)
                if not res["correct"]:
                    print(f"{wl} seed {seed}: output mismatch ({res['failed']}/{res['attempted']} failed)")
                    failed = True
                results.append(res)
                print(f"{wl} seed {seed}: " + " ".join(
                    f"{m['name']}={res['metrics'][m['name']]['value']:.4g}" for m in metrics), flush=True)
            raw[f"{wl}/set{s + 1}"] = results
            set_medians = {}
            print(f"\n{wl} set {s + 1} ({a.runs} runs)")
            print(f"  {'metric':10} {'median':>12} {'spread':>8} {'bound':>6}  verdict")
            for m in metrics:
                med, sp = spread([r["metrics"][m["name"]]["value"] for r in results])
                set_medians[m["name"]] = med
                if m["name"] == "setup_s":
                    verdict = "exempt"
                else:
                    verdict = "ok" if sp <= m["bound"] / 3 else "wide" if sp <= m["bound"] else "FAIL"
                    failed |= verdict == "FAIL"
                print(f"  {m['name']:10} {med:12.4f} {sp:8.3f} {m['bound']:6.2f}  {verdict}")
            medians.append(set_medians)
            print()
        if a.sets == 2:
            print(f"{wl}: second set's median against the first")
            for m in metrics:
                m1, m2 = medians[0][m["name"]], medians[1][m["name"]]
                worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
                verdict = "ok" if worse <= m["bound"] else "FAIL"
                failed |= verdict == "FAIL"
                print(f"  {m['name']:10} {m1:12.4f} {m2:12.4f} worse by {worse:+.3f}  {verdict}")
            print()
    out = ROOT / ".bench_build" / "jqbench" / f"steady-{int(time.time())}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(raw, indent=1))
    print(f"raw results: {out}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
