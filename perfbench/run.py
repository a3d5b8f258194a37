"""Benchmark entry point.

    python3 perfbench/run.py --workload censor-live --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. It pins the host
settings, starts one engine session, runs one workload, checks its
outputs, and prints as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Everything it
writes goes under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (result log and traces) in the checkout.

See perfbench/NOTES.md for what each workload and metric is for.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
WORKLOADS = ("censor-live", "censor-drain", "registry-batch")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "hw_kafka_streams_spark", "__init__.py")):
        print(
            "perfbench: run from the root of a checkout holding hw_kafka_streams_spark/",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import harness as H

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = H.pin_host(ROOT, work)
    cpu_before = H.cpu_times()
    tracer = H.Tracer() if args.trace else H.NullTracer()
    spark = None
    try:
        spark = H.start_session(f"perfbench-{args.workload}")
        host["spark"] = spark.version
        if args.workload == "censor-live":
            from perfbench import live as W
        elif args.workload == "censor-drain":
            from perfbench import drain as W
        else:
            from perfbench import registry as W
        res = W.run(spark, args.seed, args.seconds, tracer, work, T_PROCESS)
    finally:
        if spark is not None:
            H.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    steal = H.steal_pct(cpu_before, H.cpu_times())
    for line in res["notes"]:
        print(line)
    print(f"host cpu steal during the run: {steal:.1f}%")
    print("host: " + json.dumps(host, sort_keys=True))
    if args.trace:
        trace_path = os.path.join(
            out_dir, f"trace-{args.workload}-{args.seed}-{os.getpid()}.json"
        )
        tracer.write(trace_path)
        window_s = res["window_s"]
        metrics = dict(res["layers"])
        metrics["host.steal_pct"] = (steal, "%")
        metrics["trace.spans"] = (len(tracer.spans), "count")
        metrics["trace.overhead_pct"] = (100.0 * tracer.self_s / window_s, "%")
        for name, (value, unit) in res["metrics"].items():
            metrics[f"traced.{name}"] = (value, unit)
        print(f"trace: {len(tracer.spans)} spans written to {os.path.relpath(trace_path, ROOT)}")
    else:
        metrics = res["metrics"]
    result = {
        "correct": bool(res["valid"]) and res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": _listed(metrics, "per_layer" if args.trace else "end_to_end"),
    }
    H.emit(result, host, out_dir, args.workload, bool(args.trace))
    return 0


def _listed(metrics: dict, kind: str) -> dict:
    """The metrics BENCHMARK.json lists under ``kind``, in its order.

    Every workload reports every listed metric. A layer the workload
    does not run did no work there and reads 0.
    """
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)[kind]
    out = {}
    for m in listed:
        value, unit = metrics.get(m["name"], (0.0, m["unit"]))
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: unit {unit!r}, BENCHMARK.json says {m['unit']!r}")
        out[m["name"]] = {"value": float(value), "unit": unit}
    return out


if __name__ == "__main__":
    sys.exit(main())
