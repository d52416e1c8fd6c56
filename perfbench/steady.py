"""Steadiness check: run each workload with several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (distance
between the quartiles over the median) next to the metric's bound in
BENCHMARK.json. The bounds are set from this output.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workload W ...]

Runs one at a time, from the root of a checkout; writes the table and the
raw results to perfbench/.work/steady-<time>.json as well.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {r.returncode}")
    return json.loads(lines[-1])


def summary(results: list, bounds: dict) -> list:
    rows = []
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        rows.append({"metric": name, "median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else float("inf"), "bound": bounds.get(name)})
    return rows


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = {}
    for wl in a.workload or [w["name"] for w in spec["workloads"]]:
        results = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            res = run_once(wl, seed, spec["run_seconds"])
            results.append(res)
            print(f"{wl} seed {seed}: {time.time() - t0:.0f} s, correct={res['correct']}, "
                  f"failed {res['failed']}/{res['attempted']}", file=sys.stderr, flush=True)
        rows = summary(results, bounds)
        shares = sorted({r["failed"] / r["attempted"] for r in results})
        out[wl] = {"runs": results, "summary": rows, "failed_shares": shares,
                   "all_correct": all(r["correct"] for r in results)}
        print(f"\n{wl}: {a.runs} runs, all correct: {out[wl]['all_correct']}, failed shares {shares}")
        print(f"{'metric':<12}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}{'ok':>5}")
        for r in rows:
            ok = "" if r["bound"] is None else ("yes" if r["spread"] < r["bound"] / 3 else "NO")
            print(f"{r['metric']:<12}{r['median']:>12.4f}{r['q1']:>12.4f}{r['q3']:>12.4f}"
                  f"{r['spread']:>9.3f}{r['bound'] or 0:>8.2f}{ok:>5}")
    path = os.path.join(HERE, ".work", f"steady-{time.strftime('%Y%m%dT%H%M%S')}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f)
    print(f"\nraw results: {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
