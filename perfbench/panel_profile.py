"""Derive the registry panel from the cost of every listed query.

Usage (from the repository root):

    python3 perfbench/panel_profile.py --seed 1

Runs every query of the frozen ``reporting`` and ``curation`` name lists
on the benchmark's sf0.1 lake for ``--seed`` through the noop sink,
once untimed and once timed (query build + noop write), on the session
the benchmark itself uses, with the shared caches dropped before each
execution. Each family's queries are then sorted by that warm wall
time and cut into ``panel_strata`` equal-count strata; the panel takes
the query at the middle of every stratum but the slowest. (That tail
would take half of a run's timed budget, leaving one execution per
query; see ``panel_basis`` in ``workloads.json``.) For each layer in a
family's ``layer_picks`` (``caching``: the query calls the caching
layer; ``python``: its physical plan runs Python workers) that no pick
uses, the panel also takes that layer's user, outside the slowest
stratum, closest to the family's median cost, so that the layer's
metrics measure something. Prints one JSON object: per family, the
panel, each stratum's size, wall range, median and pick (recorded in
``workloads.json`` as ``strata_ms``), and the layer picks. A query that
fails is reported and left out.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import sys
import time

import run as bench

# physical operators that run Python workers
PYTHON_NODES = re.compile(r"Python|InPandas|InArrow")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    args.trace = 0
    env = bench.configure_env()
    r = bench.Run(args, bench.Program(), env)
    out = {"seed": args.seed, "cpus": env["cpus"], "families": {}}
    try:
        r.spark = r.p.start()
        registry = r.p.entry.queries()
        counts = {"calls": 0, "builds": 0}
        bench.install_caching_counters(r.p.caching, counts)
        for family, spec in bench.SPEC["registry"]["families"].items():
            walls, failed = {}, []
            users = {"caching": set(), "python": set()}
            for q in spec["queries"]:
                try:
                    for _ in range(2):  # untimed, then timed warm, as the benchmark times it
                        r.p.release()
                        calls = counts["calls"]
                        t0 = time.perf_counter()
                        df = registry[q](r.spark, r.lake_dir)
                        df.write.format("noop").mode("overwrite").save()
                        wall = time.perf_counter() - t0
                    walls[q] = round(wall * 1e3, 1)
                    if counts["calls"] > calls:
                        users["caching"].add(q)
                    if PYTHON_NODES.search(df._jdf.queryExecution().executedPlan().toString()):
                        users["python"].add(q)
                except Exception as exc:
                    failed.append(f"{q}: {type(exc).__name__}")
                print(f"{family} {q} {walls.get(q)}", file=sys.stderr, flush=True)
            ranked = sorted(walls, key=walls.get)
            n = spec["panel_strata"]
            strata = []
            for i in range(n):
                members = ranked[len(ranked) * i // n: len(ranked) * (i + 1) // n]
                pick = members[len(members) // 2]
                strata.append({
                    "n": len(members),
                    "in_panel": i < n - 1,
                    "ms_range": [walls[members[0]], walls[members[-1]]],
                    "ms_median": statistics.median(walls[q] for q in members),
                    "pick": pick,
                    "pick_ms": walls[pick],
                })
            panel = [st["pick"] for st in strata if st["in_panel"]]
            median = statistics.median(walls.values())
            kept = ranked[: len(ranked) * (n - 1) // n]
            layer_picks = {}
            for layer in spec.get("layer_picks", []):
                if users[layer] & set(panel):
                    continue
                # no pick uses the layer: add its user outside the slowest
                # stratum closest to the family's median cost
                candidates = [q for q in kept if q in users[layer] and q not in panel]
                if candidates:
                    q = min(candidates, key=lambda u: abs(walls[u] - median))
                    panel.append(q)
                    layer_picks[layer] = {"pick": q, "pick_ms": walls[q]}
            out["families"][family] = {
                "panel": panel, "strata": strata, "median_ms": median, "layer_picks": layer_picks,
                "uses": {layer: sorted(users[layer] & set(panel)) for layer in users},
                "failed": failed,
            }
    finally:
        r.close()
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
