#!/usr/bin/env python3
"""A/B of two checkouts on the engine benchmark.

    python3 enginebench/ab.py --parent PARENT_DIR --change CHANGE_DIR
                              [--pairs 10] [--seed 1000] [--workload trickle ...]

Runs parent and change in alternating pairs: pair i runs both sides with
seed+i, the parent first in even pairs and the change first in odd ones.
Both checkouts must hold the same benchmark (BENCHMARK.json and enginebench/).
For each workload row and end-to-end metric it prints each side's median and
quartiles and the change's wins, then applies

  - the win rule: a gain needs at least 10 pairs, the change winning at
    least 9/10 of them (ties count for neither), a median difference larger
    than the parent's quartile spread, and no more failed operations than
    the parent;
  - the no-regression bound of BENCHMARK.json: the change's median may be
    worse than the parent's by at most `bound` of it. Where the parent's own
    quartile spread exceeds the bound the metric is unresolved, unless every
    change run beats every parent run.

Exits 1 when any metric regresses or a run fails, else 0.
"""
import argparse
import hashlib
import json
import statistics
import subprocess
import sys
from pathlib import Path


def bench_digest(root: Path) -> str:
    h = hashlib.sha256((root / "BENCHMARK.json").read_bytes())
    for p in sorted((root / "enginebench").rglob("*")):
        if p.is_file() and "__pycache__" not in p.parts:
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run(root: Path, workload: str, seed: int) -> dict:
    r = subprocess.run([sys.executable, "enginebench/run.py", "--workload", workload,
                        "--seed", str(seed)], cwd=root, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"ab: {root} {workload} seed {seed} failed (exit {r.returncode})\n"
                         + r.stderr[-3000:])
    return json.loads(lines[-1])


def quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--workload", nargs="*")
    a = ap.parse_args()
    if a.pairs < 10:
        print("ab: fewer than 10 pairs: no gain can be claimed", file=sys.stderr)
    parent, change = a.parent.resolve(), a.change.resolve()
    if bench_digest(parent) != bench_digest(change):
        raise SystemExit("ab: the two checkouts hold different benchmarks")
    spec = json.loads((change / "BENCHMARK.json").read_text())
    workloads = a.workload or [w["name"] for w in spec["workloads"]]

    results = {w: {"parent": [], "change": []} for w in workloads}
    for i in range(a.pairs):
        order = [("parent", parent), ("change", change)]
        if i % 2:
            order.reverse()
        for w in workloads:
            for side, root in order:
                results[w][side].append(run(root, w, a.seed + i))
            print(f"pair {i + 1}/{a.pairs} {w} done", file=sys.stderr, flush=True)

    regressed = False
    for w in workloads:
        p_runs, c_runs = results[w]["parent"], results[w]["change"]
        p_failed = sum(r["failed"] for r in p_runs)
        c_failed = sum(r["failed"] for r in c_runs)
        print(f"\n== {w}: {len(p_runs)} pairs; failed operations parent {p_failed}, change {c_failed}")
        print(f"{'metric':<22} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} {'wins':>6}  verdict")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            lower = m["better"] == "lower"
            pv = [r["metrics"][name]["value"] for r in p_runs]
            cv = [r["metrics"][name]["value"] for r in c_runs]
            pq1, pmed, pq3 = quartiles(pv)
            cq1, cmed, cq3 = quartiles(cv)
            better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
            wins = sum(better(c, p) for c, p in zip(cv, pv))
            spread = (pq3 - pq1) / pmed if pmed else float("inf")
            worse = (cmed - pmed) / pmed if lower else (pmed - cmed) / pmed
            all_better = all(better(c, p) for c in cv for p in pv)
            if (len(pv) >= 10 and wins >= 0.9 * len(pv) and abs(cmed - pmed) > (pq3 - pq1)
                    and c_failed <= p_failed):
                verdict = "gain"
            elif spread > bound and not all_better:
                verdict = f"unresolved (parent spread {spread:.3f} > bound {bound})"
            elif worse > bound:
                verdict = f"REGRESSION ({worse:+.3f} > bound {bound})"
                regressed = True
            else:
                verdict = "no regression"
            print(f"{name:<22} {pq1:>9.4g}/{pmed:>9.4g}/{pq3:>9.4g} "
                  f"{cq1:>9.4g}/{cmed:>9.4g}/{cq3:>9.4g} {wins:>3}/{len(pv)}  {verdict}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
