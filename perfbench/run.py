"""The repository benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload tracker_only --seed 1 --seconds 16 --trace 0

Both workloads (see perfbench/README.md) set up a seeded stub JSON-RPC
node and a tracker, then measure two phases of ``--seconds / 2`` each: a
backfill phase of repeated ``Tracker.sync()`` calls from an empty store,
and an open-loop head phase in which the node produces blocks and forks
on a fixed clock while the benchmark polls the tracker. ``with_spark``
also starts a Spark session at set-up and, before the measured phases,
runs an iterative registry entry and a Spark-path sync for the
per-layer metrics.

With ``--trace 0`` the last stdout line holds the end-to-end metrics;
with ``--trace 1`` it holds the per-layer metrics, measured by wrapping
the public methods of the objects the benchmark builds. Every run checks
the program's output; a failed check sets ``correct`` to false and the
exit code to 1. Each run appends a record with host context to
``perfbench/out/results.jsonl``; a traced run also writes its spans to
``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from harness import OUT, ROOT, TMP, TreeRss, cpu_times

WORKLOADS = ("tracker_only", "with_spark")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    # the program under test; a checkout without it fails here, before
    # any process starts
    sys.path.insert(0, str(ROOT))
    import eth_event_tracker_spark  # noqa: F401

    # keep every file the run writes inside the checkout
    TMP.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(TMP)
    os.environ["SPARK_LOCAL_DIRS"] = str(TMP)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"

    from workloads import metric_names, run_workload

    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"
    host = {"nproc": os.cpu_count(), "loadavg_start": os.getloadavg()}
    cpu_start = cpu_times()
    rss = TreeRss()
    try:
        res = run_workload(a.workload, a.seed, a.seconds, a.trace, run_id, rss)
    finally:
        peak_mb = rss.stop()
    host["loadavg_end"] = os.getloadavg()
    # the share of CPU time the hypervisor gave to other guests
    delta = [b - a for a, b in zip(cpu_start, cpu_times())]
    host["steal_pct"] = 100 * delta[7] / sum(delta) if sum(delta) else 0.0
    host["spark_cores"] = res.spark_cores
    if a.trace:
        metrics = res.layer
        for k, v in (("host.nproc", host["nproc"]), ("host.spark_cores", host["spark_cores"]),
                     ("host.loadavg_start", host["loadavg_start"][0]),
                     ("host.loadavg_end", host["loadavg_end"][0]),
                     ("host.steal_pct", host["steal_pct"])):
            metrics[k] = (float(v), metrics[k][1])
    else:
        metrics = dict(res.e2e)
        metrics["peak_rss_mb"] = (peak_mb, "MB")
        for name, _unit in metric_names("end_to_end"):
            if name not in metrics:
                res.op(False, f"{name} was not measured")

    out = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {"run_id": run_id, "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "host": host, "result": out, "e2e": res.e2e, "info": res.info,
              "failures": res.failures}
    with open(OUT / "results.jsonl", "a") as fh:
        fh.write(json.dumps(record) + "\n")
    for f in res.failures:
        print(f"FAILED: {f}", file=sys.stderr)
    print(f"host: {json.dumps(host)}  info: {json.dumps(res.info)}", file=sys.stderr)
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
