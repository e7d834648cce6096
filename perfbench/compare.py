"""Pair comparison of two checkouts, parent and change.

    python3 perfbench/compare.py --parent ../parent --change . --pairs 10

Runs each side's ``perfbench/run.py`` alternately -- pair i uses seed
``--seed0 + i`` on both sides and flips which side goes first -- and
reports, for each workload and end-to-end metric, each side's median and
quartiles, the change's win share and a verdict:

* ``better``: the change wins at least nine tenths of the pairs (ties count
  for neither side) and the medians differ by more than the parent's
  quartile distance;
* ``worse``: the change's median is worse than the parent's by more than
  the metric's bound;
* ``unresolved``: either side's quartile spread exceeds the bound, unless
  every change run beats every parent run;
* ``same``: otherwise.

A run that is not correct is reported and makes the tool exit non-zero.
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def run_side(root: str, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{root}: {' '.join(cmd)} exited {out.returncode}: "
                           f"{out.stderr.strip()[-500:]}")
    return json.loads(lines[-1])


def verdict(parent: list[float], change: list[float], bound: float, lower_better: bool) -> dict:
    sign = 1 if lower_better else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    p1, pm, p3 = stats.quartiles(parent)
    c1, cm, c3 = stats.quartiles(change)
    worse_by = sign * (cm - pm) / pm if pm else 0.0
    all_better = (max(change) < min(parent)) if lower_better else (min(change) > max(parent))
    if wins >= 0.9 * len(parent) and abs(cm - pm) > (p3 - p1):
        label = "better"
    elif worse_by > bound:
        label = "worse"
    elif max(stats.spread(parent), stats.spread(change)) > bound and not all_better:
        label = "unresolved"
    else:
        label = "same"
    return {"parent": [p1, pm, p3], "change": [c1, cm, c3],
            "win_share": wins / len(parent), "worse_by": worse_by, "verdict": label}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parent", required=True, help="checkout of the parent commit")
    p.add_argument("--change", required=True, help="checkout of the change")
    p.add_argument("--workloads", nargs="*",
                   help="default: the workloads BENCHMARK.json lists; any in spec.json may be named")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1000)
    p.add_argument("--seconds", type=int)
    p.add_argument("--out", help="write the full report as JSON here")
    args = p.parse_args(argv)

    with open(os.path.join(HERE, "spec.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    metrics = [m for m in spec["metrics"] if m["kind"] == "end_to_end"]
    sides = {"parent": args.parent, "change": args.change}
    diff = filecmp.dircmp(*(os.path.join(r, "perfbench") for r in sides.values()))
    if diff.diff_files or diff.left_only or diff.right_only:
        print("warning: the two sides' benchmark code differs", file=sys.stderr)

    report, failures = {}, []
    for wl in workloads:
        runs = {"parent": [], "change": []}
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = run_side(sides[side], wl, args.seed0 + i, seconds)
                if not res["correct"]:
                    failures.append(f"{side} {wl} seed {args.seed0 + i}")
                runs[side].append(res["metrics"])
        report[wl] = {}
        for m in metrics:
            name = m["name"]
            report[wl][name] = verdict([r[name]["value"] for r in runs["parent"]],
                                       [r[name]["value"] for r in runs["change"]],
                                       m["bound"], m["better"] == "lower")
            r = report[wl][name]
            print(f"{wl:11s} {name:18s} parent {r['parent'][1]:11.4f} "
                  f"[{r['parent'][0]:.4f}, {r['parent'][2]:.4f}]  change {r['change'][1]:11.4f} "
                  f"[{r['change'][0]:.4f}, {r['change'][2]:.4f}]  wins {r['win_share']:.2f}  "
                  f"{r['verdict']}", flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"pairs": args.pairs, "seconds": seconds, "report": report,
                       "incorrect_runs": failures}, fh, indent=1)
    for f in failures:
        print(f"incorrect run: {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
