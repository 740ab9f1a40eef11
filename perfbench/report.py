"""Traced-run report: per-layer metrics with their bases, tracing overhead,
and whether the job counts repeat for the same seed.

Usage, from the repository root::

    python3 perfbench/report.py --seed 1 --runs 2 --out perfbench/results/traced_run.md

For each workload it makes ``--runs`` untraced and ``--runs`` traced runs
of ``run.py``, all with the same seed, alternating untraced and traced.
Tracing overhead is the median of each end-to-end metric over the traced
runs minus its median over the untraced runs. The count metrics must be
equal in every traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk", "tail")
# which end-to-end metric each layer's metrics should move, and where
LAYER_MAP = """\
| layer (module) | per-layer metrics | should move | on |
|---|---|---|---|
| runner, operators.apply (+ merge) | apply.metrics_s, apply.discovery_s, apply.merge_write_s (from the returned ReplayReport), apply.shuffle_write_bytes_per_event, apply.spill_bytes, apply.task_s_per_event | cdc_events_per_s | bulk (no change predicted on tail) |
| operators.apply, streaming.stream | apply.jobs_per_batch, apply.driver_gap_s, stream.driver_gap_s, stream.drain_s_p50 | cdc_batch_s_p50, cdc_events_per_s | tail (bulk only slightly) |
| sources.lake | lake.rows_rewritten_per_upsert, lake.bytes_written_per_event, lake.touched_bucket_frac | cdc_batch_s_p50 | tail (they stay near 1 on bulk) |
| sources.lake | lake.bytes_stored_per_live_byte | must not get worse when a write cut lands | both |
| sources.lake, incremental stores | lake.max_files_per_bucket, store.maintain_s | derived_total_s | tail |
| operators.incremental_dedup / incremental_ann | dedup.jobs_per_add, ann.jobs_per_add, ann.jobs_per_topk, dedup.add_s_p50, ann.add_s_p50, ann.topk_s_p50, derived.* | derived_total_s, derived_geomean_s | tail only |
| block manager, session | store.pinned_rdds, query.pinned_rdds, session.peak_rss_mb | derived_total_s | both |
| workloads (+ operators.dedup, similarity, text) | query.<name>_s, query.total_s, query.geomean_s, query.<lsh query>.shuffle_write_bytes / .spill_bytes, derived.* | derived_total_s, derived_geomean_s | bulk only |
"""
JOB_COUNTS = ("apply.jobs_per_batch", "dedup.jobs_per_add", "ann.jobs_per_add", "ann.jobs_per_topk")
# pinned RDDs are released by the JVM's garbage collector (ContextCleaner),
# so their count depends on GC timing and is reported, not required to repeat
OBSERVED = ("store.pinned_rdds", "query.pinned_rdds")


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One run; returns every metric line as name -> (value, unit, base)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True, timeout=600,
    )
    lines = proc.stdout.splitlines()
    result = json.loads(lines[-1])
    metrics = {}
    for line in lines[:-1]:
        parts = line.split(None, 3)
        if len(parts) >= 3:
            try:
                metrics[parts[0]] = (float(parts[1]), parts[2], parts[3] if len(parts) > 3 else "")
            except ValueError:
                continue
    other = [ln for ln in lines[:-1] if ln.startswith(("phases ", "host ", "error_rate ", "CHECK", "tracker"))]
    return {"result": result, "metrics": metrics, "other": other}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    e2e = [m["name"] for m in spec["end_to_end"]]
    out = [f"# Traced run (seed {args.seed}, {args.runs} untraced + {args.runs} traced runs per workload)",
           "", LAYER_MAP]
    for w in WORKLOADS:
        plain, traced = [], []
        for _ in range(args.runs):
            plain.append(_run(w, args.seed, args.seconds, 0))
            traced.append(_run(w, args.seed, args.seconds, 1))
        out += [f"## {w}", "", "| metric | value | unit | base |", "|---|---:|---|---|"]
        in_result = {m["name"] for m in spec["per_layer"]}
        for name, (v, unit, base) in traced[-1]["metrics"].items():
            if name not in e2e:
                mark = "" if name in in_result else " (printed only)"
                out.append(f"| {name}{mark} | {v:.6g} | {unit} | {base} |")
        out += ["", "Tracing overhead (median traced − median untraced):", "",
                "| metric | untraced | traced | overhead |", "|---|---:|---:|---:|"]
        for name in e2e:
            a = statistics.median(r["metrics"][name][0] for r in plain)
            b = statistics.median(r["metrics"][name][0] for r in traced)
            out.append(f"| {name} | {a:.6g} | {b:.6g} | {b - a:+.6g} ({(b - a) / a:+.1%}) |")
        seen = {c: sorted({r["metrics"][c][0] for r in traced}) for c in JOB_COUNTS + OBSERVED}
        repeat = all(len(seen[c]) == 1 for c in JOB_COUNTS)
        out += ["", f"Job counts repeat exactly across the traced runs: {'yes' if repeat else 'NO'}", ""]
        out += [f"- {c}: {vals}" + (" (GC-timed, not required to repeat)" if c in OBSERVED else "")
                for c, vals in seen.items()]
        out += ["", "Run notes:", ""]
        for i, r in enumerate(plain + traced):
            mode = "untraced" if i < len(plain) else "traced"
            out += [f"- {mode}: " + " · ".join(r["other"])]
        out.append("")
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w", encoding="utf-8") as fh:
        fh.write("\n".join(out))
    print("\n".join(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
