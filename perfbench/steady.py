"""Steadiness helper: run one workload N times and show how much each
end-to-end metric spreads against the bound BENCHMARK.json gives it.

    python3 perfbench/steady.py --workload serve [--runs 10] [--seed 1] [--seconds S]

Run i uses seed `seed + i`. For each end-to-end metric it prints the median,
the first and third quartiles (Python's `statistics.quantiles(values, n=4)`),
the spread (Q3 - Q1) / median, the metric's bound, and whether the spread is
below a third of the bound. It exits non-zero when a run fails or reports
`correct: false`.
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
    ap = argparse.ArgumentParser(description="Spread of each end-to-end metric over N runs.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    values = {m["name"]: [] for m in bench["end_to_end"]}
    ok = True
    for i in range(a.runs):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(a.seed + i), "--seconds", str(seconds), "--trace", "0"]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.stderr.write(r.stderr[-3000:])
            print(f"run {i} (seed {a.seed + i}) failed with code {r.returncode}")
            ok = False
            continue
        res = json.loads(lines[-1])
        ok &= res["correct"] and res["failed"] == 0
        for n in values:
            values[n].append(res["metrics"][n]["value"])
        print(f"run {i} seed {a.seed + i}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " +
              " ".join(f"{n}={v[-1]:.4g}" for n, v in values.items()), flush=True)
    print(f"\n{a.workload}: {a.runs} runs of {seconds} s")
    print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}  steady")
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        if len(v) < 2:
            continue
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        spread = (q3 - q1) / med
        steady = "yes" if spread < m["bound"] / 3 else ("within bound" if spread <= m["bound"]
                                                        else "NO")
        print(f"{m['name']:<16}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}"
              f"{m['bound']:>8.2f}  {steady}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
