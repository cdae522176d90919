"""Steadiness check: two interleaved sets of runs of the same code.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--traced]

For each seed, runs every workload of BENCHMARK.json once in set A and
once in set B, alternating which set goes first, so host drift lands on
both sets alike. Prints, per workload and end-to-end metric, each set's
median, quartiles and spread (quartile distance ÷ median), and says
whether the sets agree within the bounds of BENCHMARK.json: every spread
within its bound, set B's median no worse than set A's by more than the
bound, and the same share of failed operations. ``--traced`` adds one traced run
per seed and reports the tracing overhead on throughput and latency.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpu_times() -> list:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cpu0 = _cpu_times()
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], cwd=ROOT, capture_output=True, text=True, timeout=300)
    wall = time.perf_counter() - t0
    d = [b - a for a, b in zip(cpu0, _cpu_times())]
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["steal"] = d[7] / sum(d)  # share of host CPU time stolen meanwhile
    return res


def quartiles(xs: list) -> tuple:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    sets = "AB"
    results = {(w, s): [] for w in names for s in sets}
    traced = {w: [] for w in names}
    t_all = time.perf_counter()
    for i in range(args.runs):
        seed = args.first_seed + i
        order = sets if i % 2 == 0 else sets[::-1]
        for s in order:
            for w in names:
                r = run_once(w, seed, seconds, 0)
                results[(w, s)].append(r)
                print(f"{w:7s} set {s} seed {seed:3d} "
                      f"wall {r['wall_s']:5.1f}s steal {r['steal']:.3f} "
                      + " ".join(f"{k}={v['value']:.4g}"
                                 for k, v in r["metrics"].items()),
                      flush=True)
        if args.traced:
            for w in names:
                r = run_once(w, seed, seconds, 1)
                traced[w].append(r)
    total = time.perf_counter() - t_all

    ok = True
    print()
    for w in names:
        print(f"== {w}")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cells = []
            meds = {}
            for s in sets:
                xs = [r["metrics"][name]["value"] for r in results[(w, s)]]
                q1, q2, q3 = quartiles(xs)
                spread = (q3 - q1) / q2
                meds[s] = q2
                cells.append(f"{s}: median {q2:.4g} [{q1:.4g}, {q3:.4g}] "
                             f"spread {spread:.3f}")
                if spread > bound:
                    ok = False
                    cells[-1] += " WIDE"
            line = f"  {name:16s} bound {bound:.2f}  " + "  ".join(cells)
            a, b = meds["A"], meds["B"]
            worse = (b - a if m["better"] == "lower" else a - b) / a
            line += f"  B worse by {worse:+.3f}"
            if worse > bound:
                ok = False
                line += " OVER"
            print(line)
        shares = {s: sum(r["failed"] for r in results[(w, s)])
                  / sum(r["attempted"] for r in results[(w, s)]) for s in sets}
        ok = ok and len(set(shares.values())) == 1
        ok = ok and all(r["correct"] for s in sets for r in results[(w, s)])
        runs = [r for s in sets for r in results[(w, s)]]
        walls = [r["wall_s"] for r in runs]
        print("  failed share " + " ".join(f"{s} {v:.4f}"
                                           for s, v in shares.items())
              + f"; run wall median {statistics.median(walls):.1f}s "
              f"max {max(walls):.1f}s; steal median "
              f"{statistics.median(r['steal'] for r in runs):.3f}")
        if traced[w]:
            for name in ("throughput_per_s", "latency_p50_ms"):
                t = statistics.median(r["metrics"]["trace." + name]["value"]
                                      for r in traced[w])
                u = statistics.median(r["metrics"][name]["value"]
                                      for r in runs)
                print(f"  tracing overhead on {name}: {t / u - 1:+.3f} "
                      f"(traced median {t:.4g}, untraced {u:.4g})")
            untagged = [r["metrics"]["trace.untagged_s"]["value"]
                        / r["metrics"]["trace.wall_s"]["value"]
                        for r in traced[w]]
            print(f"  untagged share of timed wall: median "
                  f"{statistics.median(untagged):.4f}")
    print(f"\n{'AGREE' if ok else 'DISAGREE'} within BENCHMARK.json bounds; "
          f"{sum(len(v) for v in results.values())} runs in {total:.0f}s")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
