"""Steadiness report: repeated runs per workload, each with its own seed.

For every end-to-end metric of every workload it prints the median, the
quartiles, the quartile spread ((q3 - q1) / median) and the largest
relative deviation from the median, and compares the spread with the
metric's bound in BENCHMARK.json. A spread wider than a third of the
bound is reported as unresolved. Runs whose stamp marks them invalid
(CPU stolen by the hypervisor) are listed, and a second set of figures
leaves them out; the first set keeps them, as a validity-blind reader
of the results would.

With ``--overhead`` each seed also runs traced, and the report adds the
traced run's change of each end-to-end metric: the tracing overhead.

``--compare a.json b.json`` reads two saved reports of the same code and
prints, per workload and metric, how far the second median is from the
first in the worse direction, against the metric's bound.

Usage, from the root of a checkout:

    python3 perfbench/steadiness.py --runs 10 [--workloads a,b] [--overhead] [--out report.json]
    python3 perfbench/steadiness.py --compare first.json second.json
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return {"seed": seed, "ok": False, "wall_s": wall, "rc": proc.returncode}
    stamp = json.loads(lines[-2])["stamp"]
    result = json.loads(lines[-1])
    return {"seed": seed, "ok": result["correct"], "wall_s": wall, "stamp": stamp,
            "result": result, "e2e": stamp["end_to_end"], "valid": stamp.get("valid", True)}


def summarize(runs: list[dict], bench: dict) -> dict:
    out = {}
    for m in bench["end_to_end"]:
        vals = [r["e2e"][m["name"]] for r in runs if m["name"] in r["e2e"]]
        if not vals:
            continue
        s = stats.quartile_spread(vals)
        s.update(bound=m["bound"], values=vals, unresolved=s["spread"] > m["bound"] / 3)
        out[m["name"]] = s
    return out


def compare(first: dict, second: dict, bench: dict) -> bool:
    """Print the second report's median change against the first, in the
    worse direction, per workload and metric; True if all are in bound."""
    ok = True
    for w, entry in first.items():
        if w not in second:
            continue
        print(f"== {w}")
        for m in bench["end_to_end"]:
            a = entry["metrics"].get(m["name"])
            b = second[w]["metrics"].get(m["name"])
            if not (a and b):
                continue
            change = (b["median"] - a["median"]) / a["median"]
            worse = change if m["better"] == "lower" else -change
            good = worse <= m["bound"]
            ok &= good
            print(f"  {m['name']:18s} first {a['median']:12.4f}  second {b['median']:12.4f}"
                  f"  worse by {worse:+.4f}  bound {m['bound']}  {'ok' if good else 'OUT OF BOUND'}")
    return ok


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--out", default="")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    if args.compare:
        reports = []
        for path in args.compare:
            with open(path) as f:
                reports.append(json.load(f))
        return 0 if compare(*reports, bench) else 1
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    report: dict = {}
    for w in names:
        runs, traced = [], []
        for i in range(args.runs):
            seed = args.first_seed + i
            runs.append(run_once(w, seed, bench["run_seconds"], 0))
            if args.overhead:
                traced.append(run_once(w, seed, bench["run_seconds"], 1))
        entry = {
            "runs": len(runs),
            "failed_or_incorrect": [r["seed"] for r in runs if not r.get("ok")],
            "invalid": [r["seed"] for r in runs if r.get("ok") and not r.get("valid")],
            "wall_s_max": max(r["wall_s"] for r in runs),
            # All correct runs, as a driver that ignores validity sees them,
            # and the valid ones only.
            "metrics": summarize([r for r in runs if r.get("ok")], bench),
            "metrics_valid_only": summarize([r for r in runs if r.get("ok") and r.get("valid")], bench),
            "stamps": [r.get("stamp") for r in runs],
        }
        if args.overhead:
            base = {r["seed"]: r for r in runs if r.get("ok")}
            over: dict[str, list[float]] = {}
            for t in traced:
                b = base.get(t["seed"])
                if not (b and t.get("ok")):
                    continue
                for k, v in t["e2e"].items():
                    if b["e2e"].get(k):
                        over.setdefault(k, []).append(v / b["e2e"][k] - 1.0)
            entry["tracing_overhead_median"] = {
                k: stats.quartile_spread(v)["median"] for k, v in over.items()}
        report[w] = entry
        print(f"== {w}: {entry['runs']} runs, failed {entry['failed_or_incorrect']}, "
              f"invalid {entry['invalid']}, slowest run {entry['wall_s_max']:.1f} s")
        for label in ("metrics", "metrics_valid_only"):
            print(f"  [{'all correct runs' if label == 'metrics' else 'valid runs only'}]")
            for m, s in entry[label].items():
                flag = "UNRESOLVED" if s["unresolved"] else "ok"
                print(f"  {m:18s} median {s['median']:12.4f}  q1 {s['q1']:12.4f}  q3 {s['q3']:12.4f}"
                      f"  spread {s['spread']:.4f}  max_dev {s.get('max_rel_dev', 0):.4f}"
                      f"  bound {s['bound']}  {flag}")
        if args.overhead:
            print("  tracing overhead (traced / untraced - 1, median):",
                  {k: round(v, 4) for k, v in entry["tracing_overhead_median"].items()})
        sys.stdout.flush()
        if args.out:  # rewritten after each workload, so partial passes keep their runs
            with open(args.out, "w") as f:
                json.dump(report, f, indent=1)
    bad = any(s["unresolved"] for e in report.values() for s in e["metrics"].values())
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
