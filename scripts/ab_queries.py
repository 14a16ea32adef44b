"""Interleaved A/B of ``bench_extra.py queries`` between two checkouts.

    python scripts/ab_queries.py BASE_DIR CHANGE_DIR OUT.json PAIRS q1 [q2 ...]

Each pair runs ``python bench_extra.py queries q1 q2 ...`` once in each
checkout (its own JVM, ``PYTHONPATH`` pointing at that checkout),
alternating which side goes first.  ``bench_extra`` reports the best of
two walls per query.  Per query the output holds every run, both
medians, the base side's interquartile range, and a verdict: ``faster``
or ``regression`` when the medians differ by more than that range,
``flat`` otherwise.  Session settings come from the environment as for
``bench.py`` (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_MEM``,
``SPARK_GRAFT_SF_DIR``).
"""

from __future__ import annotations

import json
import os
import platform
import re
import statistics
import subprocess
import sys
import time


def run_side(tree: str, queries: list) -> dict:
    env = dict(os.environ, PYTHONPATH=tree)
    proc = subprocess.run(
        [sys.executable, "bench_extra.py", "queries", *queries],
        cwd=tree, env=env, capture_output=True, text=True, check=True)
    walls = {}
    for line in proc.stdout.splitlines():
        m = re.fullmatch(r"(\w+): ([0-9.]+)", line.strip())
        if m and m.group(1) in queries:
            walls[m.group(1)] = float(m.group(2))
    missing = set(queries) - set(walls)
    if missing:
        raise SystemExit(f"{tree}: no wall for {sorted(missing)}")
    return walls


def verdict(base: list, change: list) -> dict:
    q1, _, q3 = statistics.quantiles(base, n=4, method="inclusive")
    mb, mc = statistics.median(base), statistics.median(change)
    band = q3 - q1
    if mc < mb - band:
        call = "faster"
    elif mc > mb + band:
        call = "regression"
    else:
        call = "flat"
    return {"base": base, "change": change, "base_median": mb,
            "change_median": mc, "base_iqr": round(band, 3),
            "ratio": round(mb / mc, 3), "verdict": call}


def main(argv: list) -> None:
    base_dir, change_dir, out, pairs, *queries = argv
    runs = {"base": [], "change": []}
    for p in range(int(pairs)):
        order = ["base", "change"] if p % 2 == 0 else ["change", "base"]
        for side in order:
            tree = base_dir if side == "base" else change_dir
            t0 = time.time()
            walls = run_side(tree, queries)
            runs[side].append(walls)
            print(f"pair {p} {side}: {walls} ({time.time() - t0:.0f} s)",
                  flush=True)
    result = {
        "command": "python bench_extra.py queries " + " ".join(queries),
        "pairs": int(pairs),
        "host": {"cpus": os.cpu_count(), "machine": platform.machine()},
        "env": {k: os.environ.get(k) for k in (
            "SPARK_GRAFT_CPUS", "SPARK_GRAFT_MEM", "SPARK_GRAFT_SF_DIR")},
        "queries": {
            q: verdict([r[q] for r in runs["base"]],
                       [r[q] for r in runs["change"]])
            for q in queries
        },
    }
    with open(out, "w") as fh:
        json.dump(result, fh, indent=1)
    for q, v in result["queries"].items():
        print(f"{q}: {v['base_median']} -> {v['change_median']} "
              f"(iqr {v['base_iqr']}) {v['verdict']}")


if __name__ == "__main__":
    main(sys.argv[1:])
