"""End-to-end and per-layer metrics of one run.

An end-to-end metric is a ``(name, value, unit, base)`` tuple; ``base``
spells out the numerator and denominator of a ratio, or the sample count
of a median. Both workloads report every metric: a layer a workload does
not exercise reports 0 with a base of 0 calls.

End to end, "cdc" is the change-data path (the replay batches of ``bulk``,
the drains of ``tail``) and "derived" is the work built on top of it (the
16 queries of ``bulk``; the dedup add, ANN add and ANN probe of ``tail``),
summarized as the sum and geometric mean of the per-kind medians.
"""

from __future__ import annotations

from collections import defaultdict

from bench import BENCH_QUERIES

import eventlog
from probes import geomean, high_percentile, median

CDC_KINDS = ("runner.replay", "stream.drain")
DERIVED_PREFIXES = ("query:", "dedup.add", "ann.add", "ann.topk")
TRACKED_QUERIES = (
    "ngram_jaccard_pairs", "embedding_neardup_lsh", "minhash_lsh_candidates", "neardup_docs_lsh",
)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def cdc_batches(ops: list[dict]) -> list[float]:
    """Seconds per CDC batch: each replay batch (from the returned report),
    or each drain (one landed file, one epoch)."""
    out: list[float] = []
    for o in ops:
        if o["kind"] == "runner.replay":
            out += [b["seconds"] for b in o.get("batches", [])]
        elif o["kind"] == "stream.drain":
            out.append(o["seconds"])
    return out


def derived_medians(ops: list[dict]) -> dict[str, float]:
    by_kind: dict[str, list[float]] = defaultdict(list)
    for o in ops:
        if o["ok"] and o["kind"].startswith(DERIVED_PREFIXES):
            by_kind[o["kind"]].append(o["seconds"])
    return {k: median(v) for k, v in by_kind.items()}


def end_to_end(ops: list[dict], setup_s: float) -> list[tuple]:
    cdc = [o for o in ops if o["kind"] in CDC_KINDS and o["ok"]]
    events = sum(o["units"] for o in cdc)
    cdc_s = sum(o["seconds"] for o in cdc)
    batches = cdc_batches(cdc)
    derived = derived_medians(ops)
    hi = high_percentile(batches)
    return [
        ("setup_s", setup_s, "s", "session start + staging or copying inputs + warm-up"),
        ("cdc_events_per_s", _ratio(events, cdc_s), "events/s", f"{events} events / {cdc_s:.3f} s"),
        ("cdc_batch_s_p50", median(batches), "s",
         f"median of {len(batches)} batches"
         + (f"; p{hi[0]:.0f} {hi[1]:.3f} s" if hi else "; no percentile with 10 samples above")),
        ("derived_total_s", sum(derived.values()), "s", f"sum of {len(derived)} per-kind medians"),
        ("derived_geomean_s", geomean(list(derived.values())), "s",
         f"geomean of {len(derived)} per-kind medians"),
    ]


def per_layer(
    run, spans: list[dict], by_span: dict[int, list[eventlog.Job]], host: dict
) -> list[tuple]:
    """Per-layer metrics as ``(name, value, unit, base, in_result)``.

    ``in_result`` marks the metrics of the result line. A timing of a layer
    only one workload exercises (a replay phase, a store call, one query) is
    printed with its base but kept out of the result line, where the other
    workload would report it as a constant 0 s. ``by_span`` maps span id
    to the Spark jobs attributed to it (``eventlog.attribute``).
    """
    ops = [o for o in run.ops if o["ok"]]
    out: list[tuple] = []

    def add(name, value, unit, base, in_result=True):
        out.append((name, float(value), unit, base, in_result))

    def of(kind_pred):
        sel = [o for o in ops if kind_pred(o["kind"])]
        tot = eventlog.totals([j for o in sel for j in by_span[o["span"]]])
        return sel, tot

    def gap(o):
        sp = spans[o["span"]]
        return eventlog.uncovered_s(sp["start_ms"], sp["end_ms"], by_span[o["span"]])

    # runner, operators.apply (+ merge), streaming.stream: the CDC calls
    cdc, cj = of(lambda k: k in CDC_KINDS)
    replays = [o for o in cdc if o["kind"] == "runner.replay"]
    drains = [o for o in cdc if o["kind"] == "stream.drain"]
    batches = [b for o in replays for b in o.get("batches", [])]
    n_batches = len(batches) + len(drains)
    events = sum(o["units"] for o in cdc)
    add("apply.jobs_per_batch", _ratio(cj["jobs"], n_batches), "jobs",
        f"{cj['jobs']} jobs / {n_batches} batches")
    add("apply.driver_gap_s", _ratio(sum(gap(o) for o in cdc), n_batches), "s",
        f"CDC call wall time covered by no job, per batch over {n_batches} batches")
    add("apply.shuffle_write_bytes_per_event", _ratio(cj["shuffle_write_bytes"], events),
        "B/event", f"{cj['shuffle_write_bytes']} B / {events} events")
    add("apply.spill_bytes", cj["spill_bytes"], "B", f"disk spill over {n_batches} batches")
    add("apply.task_s_per_event", _ratio(cj["task_s"], events), "s/event",
        f"{cj['task_s']:.3f} task s / {events} events")
    rep_events, rep_s = sum(o["units"] for o in replays), sum(o["seconds"] for o in replays)
    add("runner.replay_events_per_s", _ratio(rep_events, rep_s), "events/s",
        f"{rep_events} events / {rep_s:.3f} s in {len(replays)} replay calls", False)
    for phase in ("metrics", "discovery", "merge_write"):
        tot = sum(b.get(phase, 0.0) for b in batches)
        add(f"apply.{phase}_s", _ratio(tot, len(batches)), "s",
            f"{tot:.3f} s / {len(batches)} replay batches", False)
    add("stream.drain_s_p50", median([o["seconds"] for o in drains]), "s",
        f"median of {len(drains)} drains", False)
    add("stream.driver_gap_s", median([gap(o) for o in drains]), "s",
        f"median over {len(drains)} drains of wall time covered by no job", False)

    # sources.lake, from manifests and parquet footers
    commits = run.commits
    rows_w = sum(c["rows"] for c in commits)
    bytes_w = sum(c["bytes"] for c in commits)
    keys = sum(o.get("keys", 0) for o in cdc) + sum(b.get("keys", 0) for b in batches)
    touched = sum(c["touched_buckets"] for c in commits)
    slots = sum(c["num_buckets"] for c in commits)
    st = run.storage or {"stored_bytes": 0, "live_bytes": 0, "max_files_per_bucket": 0}
    add("lake.rows_rewritten_per_upsert", _ratio(rows_w, keys), "rows/key",
        f"{rows_w} rows written / {keys} keys upserted in {len(commits)} commits")
    add("lake.bytes_written_per_event", _ratio(bytes_w, events), "B/event",
        f"{bytes_w} B / {events} events")
    add("lake.touched_bucket_frac", _ratio(touched, slots), "ratio",
        f"{touched} touched / {slots} bucket slots over {len(commits)} commits")
    add("lake.bytes_stored_per_live_byte", _ratio(st["stored_bytes"], st["live_bytes"]),
        "ratio", f"{st['stored_bytes']} B on disk / {st['live_bytes']} B in the current snapshot")
    max_files = max(st["max_files_per_bucket"], run.store_files)
    add("lake.max_files_per_bucket", max_files, "files", "CDC table and store tables")

    # the derived side: store calls (tail) or queries (bulk)
    derived, dj = of(lambda k: k.startswith(DERIVED_PREFIXES))
    add("derived.jobs_per_call", _ratio(dj["jobs"], len(derived)), "jobs",
        f"{dj['jobs']} jobs / {len(derived)} calls")
    add("derived.driver_gap_s", median([gap(o) for o in derived]), "s",
        f"median over {len(derived)} calls of wall time covered by no job")
    add("derived.task_s_per_call", _ratio(dj["task_s"], len(derived)), "s",
        f"{dj['task_s']:.3f} task s / {len(derived)} calls")
    add("derived.shuffle_write_bytes_per_call", _ratio(dj["shuffle_write_bytes"], len(derived)),
        "B", f"{dj['shuffle_write_bytes']} B / {len(derived)} calls")
    add("derived.spill_bytes", dj["spill_bytes"], "B", f"disk spill over {len(derived)} calls")

    # operators.incremental_dedup / incremental_ann
    maint = [o for o in ops if o["kind"].endswith(".maintain")]
    store_ops = [o for o in ops if o["kind"].startswith(("dedup.", "ann."))]
    add("store.maintain_s", sum(o["seconds"] for o in maint), "s",
        f"{len(maint)} maintain calls", False)
    last_store = spans[store_ops[-1]["span"]]["pinned_rdds"] if store_ops else 0
    add("store.pinned_rdds", last_store, "rdds", f"after the last of {len(store_ops)} store calls")
    for kind, jobs_name in (
        ("dedup.add", "dedup.jobs_per_add"), ("ann.add", "ann.jobs_per_add"),
        ("ann.topk", "ann.jobs_per_topk"),
    ):
        sel, tot = of(lambda k, kind=kind: k == kind)
        add(jobs_name, _ratio(tot["jobs"], len(sel)), "jobs", f"{tot['jobs']} jobs / {len(sel)} calls")
        add(f"{kind}_s_p50", median([o["seconds"] for o in sel]), "s",
            f"median of {len(sel)} calls", False)

    # workloads (+ operators.dedup, similarity, text): the query suite
    queries = [o for o in ops if o["kind"].startswith("query:")]
    qmed = {k[6:]: v for k, v in derived_medians(queries).items()}
    add("query.pinned_rdds", spans[queries[-1]["span"]]["pinned_rdds"] if queries else 0, "rdds",
        f"after the last of {len(queries)} queries")
    for name in TRACKED_QUERIES:
        _, tot = of(lambda k, name=name: k == f"query:{name}")
        add(f"query.{name}.shuffle_write_bytes", tot["shuffle_write_bytes"], "B", "all runs")
        add(f"query.{name}.spill_bytes", tot["spill_bytes"], "B", "all runs")
    add("query.total_s", sum(qmed.values()), "s", f"sum over {len(qmed)} query medians", False)
    add("query.geomean_s", geomean(list(qmed.values())), "s",
        f"geomean of {len(qmed)} query medians", False)
    for name in BENCH_QUERIES:
        add(f"query.{name}_s", qmed.get(name, 0.0), "s", "median of the query's runs", False)

    add("session.peak_rss_mb", max((s.get("jvm_hwm_mb", 0.0) for s in spans), default=0.0),
        "MiB", "JVM VmHWM")
    add("host.steal_frac", host["steal_frac"], "ratio", "stolen / all VM CPU ticks over the run")
    add("host.other_cpu_frac", host["other_cpu_frac"], "ratio",
        "busy ticks outside this run's processes / all VM CPU ticks")
    add("host.loadavg_1m", host["loadavg_1m"], "load", "max of start and end")
    return out
