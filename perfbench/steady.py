"""Steadiness self-check: run the benchmark as two sets and compare.

    python3 perfbench/steady.py --workload pages_ingest --runs 10

Each of the SETS sets runs `run.py` --runs times per workload, each run
with another seed. For every end-to-end metric the report gives each
set's median, quartiles and spread ((Q3 - Q1) / median), and the gap
between the two sets' medians (how much the second is worse than the
first; negative when it is better), against the metric's bound in
BENCHMARK.json. The exact Spark counters must repeat exactly in every
run. Exits 1 if a run fails, a spread or the size of a gap exceeds its
bound, or a counter varies. Results go to .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread, worse_by  # noqa: E402

#: the report compares a first set of runs with a second
SETS = 2


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "rc": p.returncode,
           "wall_s": time.perf_counter() - t0}
    try:
        rec["facts"] = json.loads(lines[-2])["run"]
        rec["result"] = json.loads(lines[-1])
    except (IndexError, ValueError, KeyError):
        rec["stderr_tail"] = p.stderr[-2000:]
    return rec


def analyze(records: list[dict], bench: dict) -> bool:
    """Print the report; return True when every check passes."""
    ok = True
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    for workload in sorted({r["workload"] for r in records}):
        runs = [r for r in records if r["workload"] == workload]
        bad = [r for r in runs if r["rc"] != 0 or not r.get("result", {}).get("correct")]
        walls = sorted(r["wall_s"] for r in runs)
        print(f"\n== {workload}: {len(runs)} runs, {len(bad)} failed, "
              f"wall median {walls[len(walls) // 2]:.1f} s, max {walls[-1]:.1f} s")
        if bad:
            ok = False
            for r in bad:
                print(f"  seed {r['seed']} rc {r['rc']}: {r.get('stderr_tail', r.get('result'))}")
            continue
        sets = sorted({r["set"] for r in runs})
        print(f"  {'metric':22s} " + "  ".join(
            f"{'set ' + str(s) + ' median [q1, q3] spread':>40s}" for s in sets)
            + f"  {'gap':>7s} {'bound':>6s}")
        for name, spec in bounds.items():
            stats = []
            for s in sets:
                vals = [r["result"]["metrics"][name]["value"] for r in runs if r["set"] == s]
                stats.append(quartile_spread(vals))
            gap = worse_by(stats[0]["median"], stats[1]["median"], spec["better"])
            flags = []
            if any(st["spread"] > spec["bound"] for st in stats):
                flags.append("SPREAD")
            if abs(gap) > spec["bound"]:
                flags.append("GAP")
            ok = ok and not flags
            cells = "  ".join(
                f"{st['median']:12.4g} [{st['q1']:.4g}, {st['q3']:.4g}] {st['spread']:6.3f}"
                for st in stats)
            print(f"  {name:22s} {cells:>40s}  {gap:7.3f} {spec['bound']:6.2f} {' '.join(flags)}")
        # a counter missing from some runs varies too (None stands for it)
        names = {k for r in runs for k in r["facts"]["counters"]}
        counters = {k: {tuple(r["facts"]["counters"].get(k) or [None]) for r in runs}
                    for k in names}
        varying = {k: sorted(v, key=str) for k, v in counters.items() if len(v) > 1 or len(next(iter(v))) > 1}
        if varying:
            ok = False
            print(f"  counters that vary: {varying}")
        else:
            print("  counters exact: " + ", ".join(
                f"{k}={next(iter(v))[0]}" for k, v in sorted(counters.items())))
    print("\nsteady" if ok else "\nNOT steady")
    return ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"steady-{time.strftime('%Y%m%d-%H%M%S')}.jsonl")
    records = []
    seed = args.first_seed
    with open(path, "w") as f:
        for s in range(SETS):
            for workload in workloads:
                for _ in range(args.runs):
                    rec = dict(run_once(workload, seed, bench["run_seconds"]), set=s)
                    seed += 1
                    records.append(rec)
                    f.write(json.dumps(rec) + "\n")
                    f.flush()
                    print(f"{workload} seed {rec['seed']} rc {rec['rc']} "
                          f"{rec['wall_s']:.1f} s", file=sys.stderr)
    print(f"results: {path}")
    return 0 if analyze(records, bench) else 1


if __name__ == "__main__":
    sys.exit(main())
