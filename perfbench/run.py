"""The repository benchmark: one workload, one seed, one JSON result line.

Usage, from the repository root::

    python3 perfbench/run.py --workload bulk|tail --seed N --seconds S --trace 0|1

The engine is imported from the checkout this file sits in. Everything a
run writes (staged inputs, lake tables, Spark scratch space, the event log)
goes under ``.perfbench_work/`` in that checkout and is removed at the end;
a traced run keeps its spans in ``.perfbench_work/traces/``.

With ``--trace 0`` the result carries the end-to-end metrics. With
``--trace 1`` the Spark event log is on, spans are written out, and the
result carries the per-layer metrics. Human-readable lines (each metric
with its base, the host witness, check failures) precede the result line.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4


def _session(work: str, traced: bool):
    from embulk_input_mixpanel_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark("perfbench", cores=min(CORES, os.cpu_count() or 1), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def measure(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    import eventlog
    import metrics
    import probes
    import scenarios

    cache_root = os.path.join(ROOT, ".perfbench_work")
    t0 = time.time()
    table_dir = scenarios.prepare(work, cache_root)
    build_s = time.time() - t0
    host0 = probes.host_sample()
    t0 = time.time()
    spark = _session(work, traced)
    t1 = time.time()
    run_id = f"{workload}-s{seed}-t{int(traced)}-{os.getpid()}"
    tracer = probes.Tracer(spark, run_id)
    tracer.add("setup.session", t0 * 1000.0, t1 * 1000.0)
    run = scenarios.Run(spark, tracer, work, seed, seconds, traced, cache_root, table_dir)
    try:
        scenarios.WORKLOADS[workload](run)
        host = probes.host_witness(host0, probes.host_sample())
    finally:
        _stop(spark)

    setup_s = sum(s["seconds"] for s in tracer.spans if s["name"].startswith("setup."))
    e2e = metrics.end_to_end(run.ops, setup_s)
    layers, mismatches = [], []
    if traced:
        (log,) = glob.glob(os.path.join(work, "eventlog", "*"))
        by_span = eventlog.attribute(eventlog.parse(log), tracer.spans)
        for span in tracer.spans:
            span.update(eventlog.totals(by_span[span["id"]]))
        layers = metrics.per_layer(run, tracer.spans, by_span, host)
        mismatches = [
            f"{s['name']}: tracker {s['jobs_tracker']} vs log {s['jobs']}"
            for s in tracer.spans
            if s.get("op") and not s["interval"] and s["jobs_tracker"] != s["jobs"]
        ]
        traces = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{run_id}.jsonl"))

    attempted = sum(max(len(o.get("batches", [])), 1) for o in run.ops)
    failed = attempted if run.errors else 0
    phases = [("build", build_s)] + [
        (s["name"], s["seconds"]) for s in tracer.spans if s["parent"] is None and not s.get("op")
    ]
    return {
        "phases": phases, "e2e": e2e, "layers": layers, "host": host, "errors": run.errors,
        "tracker_mismatches": mismatches, "attempted": attempted, "failed": failed,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["bulk", "tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    tempfile.tempdir = tmp
    try:
        res = measure(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    shown = [m for m in res["layers"] if m[4]] if args.trace else res["e2e"]
    for name, value, unit, base, *_ in res["e2e"] + res["layers"]:
        print(f"{name:48s} {value:>16.6g} {unit:10s} {base}")
    print("phases " + " ".join(f"{n}={v:.2f}s" for n, v in res["phases"]))
    print("host " + json.dumps(res["host"]))
    for line in res["tracker_mismatches"]:
        print(f"tracker-mismatch {line}")
    for err in res["errors"]:
        print(f"CHECK-FAILED {err}")
    print(f"error_rate {res['failed']}/{res['attempted']}")
    print(json.dumps({
        "correct": not res["errors"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m[0]: {"value": m[1], "unit": m[2]} for m in shown},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
