"""The two workloads. Each is one client in a closed loop: the next call
starts when the previous one has returned.

``bulk`` is the backfill side: one ``runner.replay`` of a freshly staged
change stream (Zipf repos, 10% redeliveries, a ``branch`` property added
midway) into an empty 16-bucket table in two large slices, then the 16
bench queries. The merge exchange, the latest-wins aggregation, the
parquet write and the query operators do the work. The seed drives
``change_events(seed=...)``.

``tail`` is the scheduled-drain side: a preloaded table takes one small
landed file per ``stream_replay(availableNow)`` drain, timed from the
atomic rename to the return, and the two incremental stores take small
``add_batch`` calls of copied rows plus ``topk`` probes. Per-call fixed
cost (driver round trips, job launches, copy-on-write of touched buckets,
append commits) dominates; exchange throughput barely matters. Its
starting state is seed-free and cached per checkout (built by
``prepare``, the benchmark's build step); the seed picks which pool files
land and which stored rows are copied.

Sizes are set by the run budget: one process start costs ~8 s of the
~60 s a run may take on a 4-core host, so each run measures one round.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bench import BENCH_QUERIES
import embulk_input_mixpanel_spark as engine
from embulk_input_mixpanel_spark import workloads
from embulk_input_mixpanel_spark.operators.incremental_ann import IncrementalANN
from embulk_input_mixpanel_spark.operators.incremental_dedup import IncrementalDeduper
from embulk_input_mixpanel_spark.runner import open_or_create, replay
from embulk_input_mixpanel_spark.sources.lake import LakeTable
from embulk_input_mixpanel_spark.sources.genevents import change_events
from embulk_input_mixpanel_spark.streaming.stream import stream_replay

import checks
from probes import commit_stats, storage_stats
from tables import N_DOCS, N_VECS, write_tables

NUM_BUCKETS = 16
BULK_EVENTS = 32_000
BULK_SLICES = 2
TAIL_PRELOAD = 24_000
DRAIN_EVENTS = 2_000
POOL_DRAINS = 16
MAX_DRAINS = 8
DRAINS_PER_ROUND = 2
TAIL_STREAM_SEED = 7
STORE_BATCH = 25
TOPK_QUERIES = 3
COPY_ID_STRIDE = 1_000_000
DEDUP_PARAMS = {"k": 24, "n_bands": 8, "threshold": 0.85}
ANN_PARAMS = {"n_centroids": 8}


@dataclass
class Run:
    """What one run did: timed ops, checks, lake counters, spans to attribute."""

    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    traced: bool
    cache_root: str
    table_dir: str
    ops: list[dict] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    commits: list[dict] = field(default_factory=list)
    storage: dict = field(default_factory=dict)
    store_files: int = 0

    def op(self, kind: str, fn, units: int = 0, interval: bool = False):
        """Time one call under its own span; a raised error fails the op."""
        with self.tracer.span(kind, interval=interval, op=True) as sp:
            try:
                out = fn()
                ok = True
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, the loop goes on
                out, ok = None, False
                self.errors.append(f"{kind}: {type(exc).__name__}: {exc}")
        self.ops.append({"kind": kind, "seconds": sp["seconds"], "units": units,
                         "ok": ok, "span": sp["id"]})
        return out


def _stage_events(spark, n: int, seed: int, path: str) -> None:
    ev = change_events(
        spark, n, n_repos=max(200, n // 2000), paths_per_repo=500,
        dup_rate=0.1, evolve_after=n // 2, seed=seed,
    )
    (
        ev.repartitionByRange(8, "event_seq")
        .sortWithinPartitions("event_seq")
        .write.parquet(path)
    )


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def _check_state(run: Run, table, files: list[str]) -> None:
    state = table.read().toPandas()
    run.errors += checks.cdc_state_errors(state, files)


def _record_lake(run: Run, table, v0: int) -> None:
    if run.traced:
        run.commits += commit_stats(table, v0, table.version)
        run.storage = storage_stats(table)


def bulk(run: Run) -> None:
    spark, tr = run.spark, run.tracer
    table_dir = run.table_dir
    with tr.span("setup.stage"):
        stream_path = os.path.join(run.work, "stream")
        _stage_events(spark, BULK_EVENTS, run.seed, stream_path)
        stream = spark.read.parquet(stream_path)

    answers: list[tuple[str, object]] = []
    tables = []
    deadline = time.monotonic() + run.seconds
    rnd = 0
    while rnd == 0 or time.monotonic() < deadline:
        table = open_or_create(spark, os.path.join(run.work, f"table{rnd}"), num_buckets=NUM_BUCKETS)
        tables.append(table)
        v0 = table.version
        rep = run.op(
            "runner.replay",
            lambda t=table: replay(t, stream, upper_bound=BULK_EVENTS,
                                   slice_size=BULK_EVENTS // BULK_SLICES),
            units=0,
        )
        if rep is not None:
            run.ops[-1]["units"] = rep.rows_in
            run.ops[-1]["batches"] = [
                {"seconds": b.seconds, "rows_in": b.rows_in, "keys": b.keys_upserted,
                 **b.extra.get("timings", {})}
                for b in rep.batches if b.rows_in
            ]
        _record_lake(run, table, v0)
        for name in BENCH_QUERIES:
            fn = workloads.SPARK_QUERIES[name]
            answers.append((name, run.op(f"query:{name}", lambda fn=fn: fn(spark, table_dir).toPandas())))
        rnd += 1

    with tr.span("check"):
        for table in tables:
            _check_state(run, table, _parquet_files(stream_path))
        for name, got in answers:
            if got is not None:
                run.errors += checks.query_errors(
                    name, got, workloads.ORACLE_SQL[name], table_dir,
                    os.path.join(run.cache_root, "oracle")
                )


def _build_tail_base(spark, out: str, table_dir: str) -> None:
    """Everything the tail workload starts from, none of it seeded:

    - ``preload/``: the first TAIL_PRELOAD events of one change stream;
    - ``table/``: a lake table after ``runner.replay`` of that preload;
    - ``pool/``: the rest of the stream cut into POOL_DRAINS small files.
      The tail continues the stream (later sequence and commit numbers
      over the same repos and paths), so each drain upserts keys the
      table already holds;
    - ``dedup/`` and ``ann/``: both incremental stores after their base
      build over the ``documents`` and ``embeddings`` tables.
    """
    raw = os.path.join(out, "raw")
    _stage_events(spark, TAIL_PRELOAD + DRAIN_EVENTS * POOL_DRAINS, TAIL_STREAM_SEED, raw)
    t = pq.read_table(_parquet_files(raw)).sort_by("event_seq")
    shutil.rmtree(raw)
    cut = int(np.searchsorted(t.column("event_seq").to_numpy(), TAIL_PRELOAD))
    os.makedirs(os.path.join(out, "preload"))
    pq.write_table(t.slice(0, cut), os.path.join(out, "preload", "preload.parquet"))
    os.makedirs(os.path.join(out, "pool"))
    per = -(-(t.num_rows - cut) // POOL_DRAINS)
    for i in range(POOL_DRAINS):
        pq.write_table(t.slice(cut + i * per, per), os.path.join(out, "pool", f"drain-{i:04d}.parquet"))
    table = open_or_create(spark, os.path.join(out, "table"), num_buckets=NUM_BUCKETS)
    pre = spark.read.parquet(os.path.join(out, "preload"))
    replay(table, pre, upper_bound=TAIL_PRELOAD, slice_size=TAIL_PRELOAD)
    docs = spark.read.parquet(os.path.join(table_dir, "documents.parquet"))
    IncrementalDeduper(spark, os.path.join(out, "dedup"), **DEDUP_PARAMS).add_batch(docs).count()
    emb = spark.read.parquet(os.path.join(table_dir, "embeddings.parquet"))
    IncrementalANN(spark, os.path.join(out, "ann"), **ANN_PARAMS).add_batch(emb)


def _tail_base_dir(table_dir: str, cache_root: str) -> str:
    """The cached tail base (see ``_build_tail_base``), built if missing.

    The base does not depend on the workload seed, so it is built once per
    checkout and cached under a key of everything it depends on: the
    engine's source files, this file, the query tables' bytes and the
    sizes and parameters here. It is built in a JVM of its own
    (``build_base.py``) so that the measuring JVM of the building run is as
    cold as every later one.
    """
    key = hashlib.sha256(repr((
        TAIL_STREAM_SEED, TAIL_PRELOAD, DRAIN_EVENTS, POOL_DRAINS, NUM_BUCKETS,
        DEDUP_PARAMS, ANN_PARAMS,
    )).encode())
    pkg = os.path.dirname(os.path.abspath(engine.__file__))
    sources = sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True))
    sources += [os.path.abspath(__file__), os.path.join(os.path.dirname(__file__), "build_base.py")]
    tables = [os.path.join(table_dir, f"{t}.parquet") for t in ("documents", "embeddings")]
    for path in sources + tables:
        key.update(os.path.basename(path).encode())
        with open(path, "rb") as fh:
            key.update(hashlib.sha256(fh.read()).digest())
    cached = os.path.join(cache_root, "tail_base", key.hexdigest())
    if not os.path.isdir(cached):
        tmp = f"{cached}.{os.getpid()}.tmp"
        subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "build_base.py"), tmp, table_dir],
            check=True, timeout=600,
        )
        os.replace(tmp, cached)
    return cached


def prepare(work: str, cache_root: str) -> str:
    """The benchmark's build step, run before the session starts and outside
    every timed and set-up region: write the query tables, and make sure
    the DuckDB answers to the 16 oracle queries and the tail base are in
    the per-checkout cache (only the first run of a checkout computes
    them). Returns the query table directory."""
    table_dir = write_tables(os.path.join(work, "tables"))
    for name in BENCH_QUERIES:
        checks.oracle_answer(workloads.ORACLE_SQL[name], table_dir, os.path.join(cache_root, "oracle"))
    _tail_base_dir(table_dir, cache_root)
    return table_dir


def tail(run: Run) -> None:
    spark, tr = run.spark, run.tracer
    rng = np.random.default_rng(run.seed)
    landing = os.path.join(run.work, "landing")
    ckpt = os.path.join(run.work, "stream_ckpt")
    landed: list[str] = []

    def drain(src: str) -> None:
        dst = os.path.join(landing, os.path.basename(src))
        os.rename(src, dst)
        landed.append(dst)
        stream_replay(spark, table, landing, ckpt, schema=schema)

    table_dir = run.table_dir
    with tr.span("setup.base"):
        base = os.path.join(run.work, "base")
        shutil.copytree(_tail_base_dir(table_dir, run.cache_root), base)
        table = LakeTable(spark, os.path.join(base, "table"))
        schema = spark.read.parquet(os.path.join(base, "preload")).schema
        dd = IncrementalDeduper(spark, os.path.join(base, "dedup"), **DEDUP_PARAMS)
        ann = IncrementalANN(spark, os.path.join(base, "ann"), **ANN_PARAMS)
        docs = spark.read.parquet(os.path.join(table_dir, "documents.parquet"))
        emb = spark.read.parquet(os.path.join(table_dir, "embeddings.parquet"))
        pool = _parquet_files(os.path.join(base, "pool"))
        # the seed picks which pool files land, in stream order; pool[0]
        # lands first, untimed, so timed drains find the apply path warm
        picks = sorted(rng.choice(np.arange(1, POOL_DRAINS), MAX_DRAINS, replace=False))
        staged = [(pool[i], pq.read_metadata(pool[i]).num_rows) for i in picks]
    with tr.span("setup.warm"):
        os.makedirs(landing)
        drain(pool[0])

    copies: dict[int, int] = {}
    pairs: list[tuple[int, int, float]] = []
    probes: list[tuple[list[int], list]] = []
    deadline = time.monotonic() + run.seconds
    rnd = 0
    while rnd == 0 or (time.monotonic() < deadline and (rnd + 1) * DRAINS_PER_ROUND <= MAX_DRAINS):
        for src, n_events in staged[rnd * DRAINS_PER_ROUND:(rnd + 1) * DRAINS_PER_ROUND]:
            v0 = table.version
            run.op("stream.drain", lambda s=src: drain(s), units=n_events, interval=True)
            if run.traced:
                run.ops[-1]["keys"] = checks.distinct_keys(landed[-1])
            _record_lake(run, table, v0)

        shift = (rnd + 1) * COPY_ID_STRIDE
        orig = sorted(int(i) for i in rng.choice(N_DOCS, STORE_BATCH, replace=False))
        copies.update({i + shift: i for i in orig})
        batch = docs.filter(F.col("doc_id").isin(orig)).select(
            (F.col("doc_id") + shift).alias("doc_id"), "text"
        )
        got = run.op("dedup.add", lambda b=batch: dd.add_batch(b).collect(), units=STORE_BATCH)
        pairs += [(r.id_a, r.id_b, r.jaccard) for r in got or []]

        vorig = sorted(int(i) for i in rng.choice(N_VECS, STORE_BATCH, replace=False))
        vbatch = emb.filter(F.col("vec_id").isin(vorig)).select(
            (F.col("vec_id") + shift).alias("vec_id"), "embedding"
        )
        run.op("ann.add", lambda b=vbatch: ann.add_batch(b), units=STORE_BATCH)
        qids = [i + shift for i in vorig[:TOPK_QUERIES]]
        rows = run.op("ann.topk", lambda q=qids: ann.topk(query_ids=q, k=3, n_probe=2).collect())
        probes.append((qids, [tuple(r) for r in rows or []]))
        rnd += 1

    run.op("dedup.maintain", dd.maintain)
    run.op("ann.maintain", ann.maintain)

    with tr.span("check"):
        _check_state(run, table, _parquet_files(os.path.join(base, "preload")) + landed)
        run.errors += checks.pair_errors(pairs, copies)
        for qids, rows in probes:
            run.errors += checks.topk_errors(rows, qids)
    if run.traced:
        run.store_files = max(
            storage_stats(t)["max_files_per_bucket"]
            for t in (dd.sigs, dd.buckets, ann.vectors, ann.ids)
        )


WORKLOADS = {"bulk": bulk, "tail": tail}
