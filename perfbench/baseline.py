#!/usr/bin/env python3
"""Run every workload over two sets of seeds and record a same-host
baseline: per workload and end-to-end metric, the median, the
quartiles and their spread (IQR ÷ median) of each set and of both
sets together, and how far the second set's median is from the
first's, with the host, the versions and the BM25 pair.

    python3 perfbench/baseline.py --sets 1-10,11-20 [--out perfbench/BASELINE.json]

Runs are untraced and sequential (one benchmark process at a time),
and interleaved: seed i of the first set, then seed i of the second,
each on every workload in turn.  A slow stretch of a shared host then
falls on both sets alike instead of on one.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from check import PARAMS  # noqa: E402


def host() -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "arrow": pyarrow.__version__,
    }


def _seeds(spec: str) -> list[int]:
    lo, hi = (int(x) for x in spec.split("-"))
    return list(range(lo, hi + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sets", default="1-10,11-20",
                    help="two seed ranges, first-last,first-last")
    ap.add_argument("--out", default=str(HERE / "BASELINE.json"))
    a = ap.parse_args()
    sets = [_seeds(s) for s in a.sets.split(",")]
    with open(ROOT / "BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = [x["name"] for x in bench["workloads"]]
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    # values[w][set][metric] -> list
    values = {w: [{} for _ in sets] for w in workloads}
    runs = {w: {"attempted": 0, "failed": 0, "walls": []} for w in workloads}
    for i in range(max(len(s) for s in sets)):
        for k, seeds in enumerate(sets):
            if i >= len(seeds):
                continue
            for w in workloads:
                t0 = time.perf_counter()
                out = subprocess.run(
                    [sys.executable, str(HERE / "run.py"), "--workload", w,
                     "--seed", str(seeds[i]),
                     "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                    cwd=ROOT, capture_output=True, text=True, timeout=600,
                    check=True,
                ).stdout.strip().splitlines()[-1]
                runs[w]["walls"].append(time.perf_counter() - t0)
                res = json.loads(out)
                runs[w]["failed"] += res["failed"]
                runs[w]["attempted"] += res["attempted"]
                for m, v in res["metrics"].items():
                    values[w][k].setdefault(m, []).append(v["value"])
                print(w, seeds[i], json.dumps(res), flush=True)
    result = {
        "note": "same-host record of perfbench runs; the 32-core figures "
                "in BENCH/ and BENCH_r0*.json come from another host and "
                "harness (bench.py) and are not comparable",
        "host": host(), "bm25": {"k1": PARAMS.k1, "b": PARAMS.b},
        "run_seconds": bench["run_seconds"], "sets": a.sets,
        "order": "interleaved: seed i of each set in turn, every workload",
        "workloads": {},
    }
    for w in workloads:
        per_set = [{m: _summary(v) for m, v in vs.items()}
                   for vs in values[w]]
        both = {m: _summary(sum((vs[m] for vs in values[w]), []))
                for m in values[w][0]}
        second_vs_first = {}
        for m, s in both.items():
            d = (per_set[1][m]["median"] - per_set[0][m]["median"]) \
                / per_set[0][m]["median"]
            worse = d if bounds[m]["better"] == "lower" else -d
            second_vs_first[m] = {"change": d,
                                  "within_bound": worse <= bounds[m]["bound"]}
        result["workloads"][w] = {
            "attempted": runs[w]["attempted"], "failed": runs[w]["failed"],
            "run_wall_s_median": statistics.median(runs[w]["walls"]),
            "run_wall_s_max": max(runs[w]["walls"]),
            "metrics": both, "sets": per_set,
            "second_vs_first": second_vs_first,
        }
    with open(a.out, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    return 0


def _summary(v: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(v, n=4)
    return {"median": statistics.median(v), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(v), "n": len(v)}


if __name__ == "__main__":
    sys.exit(main())
