"""Run-to-run steadiness of the end-to-end metrics of one commit.

    python3 perfbench/steadiness.py --runs 10 --sets 2 [--json OUT]

For each workload in BENCHMARK.json it makes ``--sets``
sets of ``--runs`` untraced runs, seed ``1..runs`` in each set, and
prints per (workload, metric) each set's median and quartiles, the
spread (IQR / median) as a share of the metric's bound, and how far
the last set's median moved from the first's, also against the bound.
A row is ``ok`` when every set's spread stays within the bound (``setup_s``
included) and no median moved by more than the bound in the worse
direction.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t = time.monotonic()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.monotonic() - t
    return out


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--json", help="also write every run's result to this file")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    runs: dict[str, list[list[dict]]] = {w: [[] for _ in range(a.sets)] for w in workloads}
    for s in range(a.sets):
        for w in workloads:
            for seed in range(1, a.runs + 1):
                r = one_run(w, seed, spec["run_seconds"])
                runs[w][s].append(r)
                if a.json:  # after every run, so a failed run keeps the earlier ones
                    with open(a.json, "w") as f:
                        json.dump(runs, f, indent=1)
                print(f"set {s + 1} {w} seed {seed}: correct={r['correct']} failed={r['failed']} "
                      f"wall={r['wall_s']:.1f}s", file=sys.stderr, flush=True)

    all_ok = True
    print(f"{'workload':<12} {'metric':<20} {'set':>3} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread/bound':>12} {'move/bound':>10}  verdict")
    for w in workloads:
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sets = [summarize([r["metrics"][name]["value"] for r in rs]) for rs in runs[w]]
            first, last = sets[0]["median"], sets[-1]["median"]
            move = (last - first) / first if m["better"] == "lower" else (first - last) / first
            ok = move <= bound and all(s["spread"] <= bound for s in sets)
            all_ok &= ok
            for i, s in enumerate(sets):
                tail = f"{move / bound:>10.2f}  {'ok' if ok else 'UNSTEADY'}" if i == len(sets) - 1 else ""
                print(f"{w:<12} {name:<20} {i + 1:>3} {s['median']:>12.5g} {s['q1']:>12.5g} "
                      f"{s['q3']:>12.5g} {s['spread'] / bound:>12.2f} {tail}")
        failed = sum(r["failed"] for rs in runs[w] for r in rs)
        walls = [r["wall_s"] for rs in runs[w] for r in rs]
        print(f"{w:<12} failed ops over all runs: {failed}; wall per run: median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        all_ok &= failed == 0
    return 0 if all_ok else 1


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
