"""Compare two sets of benchmark results, metric by metric.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file is a result log that ``perfbench/run.py`` appends to
(``.perfbench_out/results.jsonl``). For every workload and end-to-end
metric it prints both medians, the change, and whether the change is
within the bound BENCHMARK.json fixes. Results from different hosts
(core count, memory, Spark or Java version, or pinned settings) are
refused: exit code 2.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

#: host fields that must match for two results to be comparable
HOST_KEYS = (
    "nproc",
    "mem_gb",
    "machine",
    "java",
    "spark",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
)


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def host_of(rec: dict) -> tuple:
    return tuple(rec["host"].get(k) for k in HOST_KEYS)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (load(p) for p in argv)
    hosts = {host_of(r) for r in base + new}
    if len(hosts) != 1:
        print("refusing to compare results from different hosts:", file=sys.stderr)
        for h in sorted(hosts, key=str):
            print("  " + json.dumps(dict(zip(HOST_KEYS, h))), file=sys.stderr)
        return 2
    bench = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
    with open(bench) as f:
        metrics = json.load(f)["end_to_end"]
    worse = 0
    for wl in sorted({r["workload"] for r in base + new}):
        for m in metrics:
            a = [r["metrics"][m["name"]]["value"] for r in base if r["workload"] == wl and not r["trace"]]
            b = [r["metrics"][m["name"]]["value"] for r in new if r["workload"] == wl and not r["trace"]]
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            change = (mb - ma) / ma if ma else 0.0
            regress = -change if m["better"] == "higher" else change
            flag = "WORSE" if regress > m["bound"] else "ok"
            worse += flag == "WORSE"
            print(
                f"{wl:15s} {m['name']:15s} {ma:12.4g} -> {mb:12.4g} {m['unit']:7s} "
                f"{change:+7.1%} (bound {m['bound']:.0%}, n={len(a)}/{len(b)}) {flag}"
            )
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
