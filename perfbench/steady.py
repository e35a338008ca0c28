"""Steadiness check: run each workload ``-n`` times in fresh processes,
alternating between workloads, and print for every metric its median,
quartiles, spread (interquartile range over median) and max/min ratio.

    python3 perfbench/steady.py -n 10
    python3 perfbench/steady.py -n 5 --workloads corpus --trace 1

Seeds are ``--first-seed`` .. ``--first-seed + n - 1``; each run measures
for BENCHMARK.json's ``run_seconds``. The spreads are the evidence for the
bounds in BENCHMARK.json. The exit code is 0 only when every run was
correct and:

- every end-to-end metric's spread is at most a third of its bound, except
  ``setup_s``, whose spread the benchmark's acceptance rule does not bound
  (its spread is printed, marked ``not gated``);
- untraced runs: the median ``pass_cpu_s`` of the last timed pass is not
  lower than that of the first by more than the ``pass_cpu_s`` bound
  (warm-up complete);
- traced runs: the count-guard counts are identical across all runs (the
  inputs of every seed give the same counts). It also prints the range of
  the span self-time sums over pass wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(f"{workload} seed {seed} failed with exit code {proc.returncode}\n")
        sys.stderr.write("\n".join(ln for ln in proc.stderr.splitlines()
                                    if not ln.lstrip().startswith("at "))[-6000:] + "\n")
    if len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed} printed no result")
    return {"detail": json.loads(lines[-2])["detail"], "result": json.loads(lines[-1]),
            "workload": workload, "seed": seed, "trace": trace}


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    lo = min(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan"),
            "max_min": max(values) / lo if lo else float("nan")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("-n", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for i in range(args.n):
        for w in workloads:
            r = one_run(w, args.first_seed + i, seconds, args.trace)
            runs[w].append(r)
            print(json.dumps({"workload": w, "seed": r["seed"], "correct": r["result"]["correct"],
                              "metrics": {k: round(v["value"], 4)
                                          for k, v in r["result"]["metrics"].items()}}),
                  flush=True)
    ok = all(r["result"]["correct"] for rs in runs.values() for r in rs)
    for w, rs in runs.items():
        print(f"\n== {w}: {len(rs)} runs, seeds {rs[0]['seed']}..{rs[-1]['seed']}")
        names = list(rs[0]["result"]["metrics"])
        for name in names:
            s = spread([r["result"]["metrics"][name]["value"] for r in rs])
            bound = bounds.get(name)
            flag = ""
            if bound and s["spread"] > bound / 3:
                flag = f"  > bound/3 ({bound / 3:.3f})"
                if name == "setup_s":
                    flag += ", not gated"
                else:
                    ok = False
            print(f"  {name:32s} median {s['median']:10.4f}  q1 {s['q1']:10.4f}  "
                  f"q3 {s['q3']:10.4f}  spread {s['spread']:6.3f}  max/min {s['max_min']:6.3f}{flag}")
        if args.trace:
            counts = sorted({json.dumps(r["detail"]["counts"], sort_keys=True) for r in rs})
            print(f"  count guard identical across runs: {len(counts) == 1} {counts[:3]}")
            ok = ok and len(counts) == 1
            print("  self-time sum / pass wall: "
                  f"{min(x for r in rs for x in r['detail']['self_sum_ratio']):.4f} .. "
                  f"{max(x for r in rs for x in r['detail']['self_sum_ratio']):.4f}")
        else:
            first = statistics.median(r["detail"]["pass_cpu_s"][0] for r in rs)
            last = statistics.median(r["detail"]["pass_cpu_s"][-1] for r in rs)
            drop = (first - last) / first
            bound = bounds.get("pass_cpu_s") or 0
            print(f"  warm-up: first timed pass_cpu_s median {first:.3f}, last {last:.3f}, "
                  f"drop {drop:.3f} (bound {bound})")
            ok = ok and drop <= bound
    print(f"\nsteady: {'ok' if ok else 'FAILED'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
