#!/usr/bin/env python3
"""Compare two sets of benchmark results saved with ``run.py --out``.

    python3 perfbench/compare.py --base base-*.json --change change-*.json

Results are compared only when every file carries the same host
fingerprint (cores, memory, JVM, Spark, master and scale). Files from
another host, or from the round-6 ``BENCH_r0*.json`` / ``BENCH/`` history
taken at ``local[32]`` on a 32-core VM, are refused, not compared.

For each workload and end-to-end metric it prints each side's median and
quartiles, and whether the change's median is worse than the base's by
more than the metric's bound in ``BENCHMARK.json``. It warns when the
change side lacks a run on the holdout seed.
"""

import argparse
import json
import os
import statistics
import sys

from run import HOLDOUT_SEED, ROOT


def load(paths):
    runs = []
    for path in paths:
        with open(path) as fh:
            doc = json.load(fh)
        if "fingerprint" not in doc or "host" not in doc["fingerprint"]:
            sys.exit(f"refused: {path} carries no host fingerprint")
        runs.append(doc)
    return runs


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--base", nargs="+", required=True)
    p.add_argument("--change", nargs="+", required=True)
    opts = p.parse_args()
    base, change = load(opts.base), load(opts.change)
    hosts = {json.dumps(r["fingerprint"]["host"], sort_keys=True) for r in base + change}
    if len(hosts) > 1:
        sys.exit("refused: results come from different host fingerprints:\n  " +
                 "\n  ".join(sorted(hosts)))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    if HOLDOUT_SEED not in {r["fingerprint"]["run"]["seed"] for r in change}:
        print(f"warning: no change run on the holdout seed {HOLDOUT_SEED}")

    def by_workload(runs):
        out = {}
        for r in runs:
            if not r["fingerprint"]["run"]["trace"]:
                out.setdefault(r["fingerprint"]["run"]["workload"], []).append(r["result"])
        return out

    b, c = by_workload(base), by_workload(change)
    worse = 0
    for workload in sorted(set(b) & set(c)):
        print(f"[{workload}] base n={len(b[workload])}, change n={len(c[workload])}")
        for name, (bound, better) in bounds.items():
            def stats(results):
                v = [r["metrics"][name]["value"] for r in results]
                q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
                return statistics.median(v), q[0], q[2]
            (bm, bq1, bq3), (cm, cq1, cq3) = stats(b[workload]), stats(c[workload])
            delta = (cm - bm) / bm if better == "lower" else (bm - cm) / bm
            flag = "WORSE beyond bound" if delta > bound else ""
            worse += bool(flag)
            print(f"  {name:<28} base {bm:.6g} [{bq1:.6g}, {bq3:.6g}]  "
                  f"change {cm:.6g} [{cq1:.6g}, {cq3:.6g}]  {flag}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
