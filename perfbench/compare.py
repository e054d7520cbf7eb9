"""Compare two sets of benchmark result records of one workload.

    python3 perfbench/compare.py --base A/*.json --new B/*.json

Each record is a file ``perfbench/run.py`` wrote to ``perfbench/out/results/``.
Runs are paired by seed. A pair whose input digests differ is refused (the
generator changed, so a speed difference would not be the engine's), as is a
set that mixes workloads, sizes, trace modes or core counts. Prints, per
metric, each side's median and quartiles, the relative change of the
medians, how many pairs the new side wins, and for the end-to-end metrics
whether the change is worse than the bound ``BENCHMARK.json`` fixes.
"""

import argparse
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def load(paths: list[str]) -> dict[int, dict]:
    runs = {}
    for p in paths:
        r = json.loads(Path(p).read_text())
        if r["seed"] in runs:
            raise SystemExit(f"compare: seed {r['seed']} twice in one set ({p})")
        runs[r["seed"]] = r
    return runs


def shape(r: dict) -> tuple:
    return (r["workload"], r["size"], r["trace"], len(r["host"]["affinity"]))


def values(r: dict) -> dict[str, float]:
    out = dict(r["end_to_end"])
    out.update({k: v for k, (v, _) in r["extras"].items()})
    out.update({k: v for k, (v, _) in r["layers"].items()})
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.new)

    shapes = {shape(r) for r in [*base.values(), *new.values()]}
    if len(shapes) != 1:
        print(f"compare: records differ in (workload, size, trace, cores): {sorted(shapes)}",
              file=sys.stderr)
        return 2
    seeds = sorted(set(base) & set(new))
    if not seeds:
        print("compare: no seed is in both sets", file=sys.stderr)
        return 2
    bad = [s for s in seeds if base[s]["inputs"] != new[s]["inputs"]]
    if bad:
        print(f"compare: input digests differ for seeds {bad}; refusing to compare",
              file=sys.stderr)
        return 2
    failed = [p for s in seeds for p in (base[s], new[s]) if not p["correct"]]
    if failed:
        print(f"compare: {len(failed)} record(s) failed their correctness gates",
              file=sys.stderr)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    # every layer is lower-is-better (layers.py)
    higher_better = {m["name"] for m in spec["end_to_end"] if m["better"] == "higher"}
    print(f"{shapes.pop()[0]}: {len(seeds)} paired seeds")
    print(f"{'metric':44} {'base median [q1, q3]':>30} {'new median [q1, q3]':>30} "
          f"{'change':>8} {'wins':>6}  verdict")
    names = sorted(set.intersection(*(set(values(r)) for s in seeds
                                      for r in (base[s], new[s]))))
    for name in names:
        b = [values(base[s])[name] for s in seeds]
        n = [values(new[s])[name] for s in seeds]
        bq, nq = quartiles(b), quartiles(n)
        change = nq[1] / bq[1] - 1 if bq[1] else float("nan")
        lower = name not in higher_better
        wins = sum((y < x) if lower else (y > x) for x, y in zip(b, n))
        verdict = ""
        if name in e2e:
            worse = change if lower else -change
            verdict = "worse than bound" if worse > e2e[name]["bound"] else "within bound"
        print(f"{name:44} {bq[1]:>12.5g} [{bq[0]:.4g}, {bq[2]:.4g}]".ljust(75)
              + f" {nq[1]:>12.5g} [{nq[0]:.4g}, {nq[2]:.4g}]".ljust(31)
              + f" {change:>+8.2%} {wins:>3}/{len(seeds)}  {verdict}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
