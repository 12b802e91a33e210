#!/usr/bin/env python3
"""Run one workload several times, each with another seed, and print each
end-to-end metric's median, quartiles and spread.

Usage (from the repository root):

    python3 perfbench/steady.py --workload sql_marketplace --runs 10 [--first-seed 1]

The spread is (Q3 - Q1) / median, with the quartiles of Python's
`statistics.quantiles(values, n=4)`; it is compared with the metric's bound
in BENCHMARK.json (`setup_s` is reported but has no spread limit). The runs'
results are also written to perfbench/out/steady-<workload>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-4000:])
            raise SystemExit(f"run with seed {seed} exited with {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        results.append(res)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())),
              flush=True)

    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"steady-{args.workload}.json"), "w") as fh:
        json.dump(results, fh, indent=1)
    print(f"\n{'metric':<18}{'median':>12}{'Q1':>12}{'Q3':>12}{'spread':>9}{'bound':>7}")
    ok = True
    for name in sorted(results[0]["metrics"]):
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        bound = bounds.get(name)
        flag = ""
        if bound is not None and name != "setup_s":
            flag = "  ok" if spread <= bound / 3 else ("  WIDE" if spread <= bound else "  OVER")
            ok = ok and spread <= bound
        print(f"{name:<18}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}"
              f"{bound if bound is not None else '':>7}{flag}")
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"\nfailed share per run: {sorted(shares)}; all correct: {all(r['correct'] for r in results)}")
    return 0 if ok and len(shares) == 1 and all(r["correct"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
