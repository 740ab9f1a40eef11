"""Replay orchestration: plan -> apply -> commit -> checkpoint, resumable.

The ``transaction``/``run`` analog (reference: lib/embulk/input/mixpanel.rb:9-60;
ingest loop export_service.rb:67-144): slice the stream into micro-batches,
apply each through the CDC pipeline, commit exactly-once, resume from the
snapshot checkpoint after any interruption.

Also carries the reference's *preview* mode — first batch only, limited
rows, no checkpoint mutation (base_service.rb:68-74; export_service.rb:91,140)
— and per-batch retry with backoff (base_service.rb:90-99).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .operators.apply import ApplyResult, apply_batch, base_table_schema
from .plans.checkpoint import get_cursor
from .plans.metrics import record_lineage
from .plans.windows import BatchPlanner, ConfigError
from .functions.retry import with_retry
from .sources.lake import LakeTable, empty_frame

logger = logging.getLogger(__name__)

__all__ = ["ReplayReport", "replay", "preview", "open_or_create"]


@dataclass
class ReplayReport:
    batches: list[ApplyResult] = field(default_factory=list)

    @property
    def rows_in(self) -> int:
        return sum(b.rows_in for b in self.batches)

    @property
    def rows_skipped(self) -> int:
        return sum(b.rows_skipped_hwm for b in self.batches)

    @property
    def keys_upserted(self) -> int:
        return sum(b.keys_upserted for b in self.batches)

    @property
    def seconds(self) -> float:
        return sum(b.seconds for b in self.batches)


def open_or_create(
    spark: SparkSession,
    path: str,
    num_buckets: int = 64,
    prop_keys: list[str] | None = None,
) -> LakeTable:
    t = LakeTable(spark, path)
    if not t.exists():
        t = LakeTable.create(spark, path, base_table_schema(prop_keys), num_buckets=num_buckets)
    return t


def replay(
    table: LakeTable,
    events: DataFrame,
    upper_bound: int,
    slice_size: int,
    backfill: int = 0,
    retry_limit: int = 2,
    retry_wait: float = 0.1,
    fail_injector=None,
    max_batches: int | None = None,
    run_id: str = "",
    lineage: bool = True,
    apply_kwargs: dict | None = None,
    writer_id: str = "",
) -> ReplayReport:
    """Apply all events with ``cursor < event_seq <= upper_bound``.

    - ``upper_bound`` is locked by the caller at plan time (the
      job_start - delay lock, export_service.rb:239-243).
    - Resume: batches whose window is already below the committed cursor
      are planned away entirely; a partially-applied batch cannot exist
      (snapshot atomicity), so re-running after a crash is exactly-once.
    - ``fail_injector(batch_index)`` is a test hook raising mid-run.
    - ``apply_kwargs``: per-batch options forwarded to
      :func:`operators.apply.apply_batch` — typically
      ``IngestConfig.apply_kwargs()`` (promoted/reserved keys, evolution).
    - ``writer_id``: checkpoint namespace for concurrent writers over
      disjoint source-partition sets (plans/checkpoint.py multi-writer).
    """
    cursor = get_cursor(table, writer_id)
    if upper_bound <= cursor:
        logger.info("nothing to do: upper_bound %d <= cursor %d", upper_bound, cursor)
        return ReplayReport()
    planner = BatchPlanner(hwm=cursor, upper_bound=upper_bound, slice_size=slice_size, backfill=backfill)

    report = ReplayReport()

    @with_retry(limit=retry_limit, initial_wait=retry_wait)
    def _apply_one(batch):
        if fail_injector is not None:
            fail_injector(batch.index)
        return apply_batch(
            table, events, batch, writer_id=writer_id, **(apply_kwargs or {})
        )

    for i, batch in enumerate(planner):
        if max_batches is not None and i >= max_batches:
            break
        res = _apply_one(batch)
        logger.info(
            "batch %d (%d,%d]: in=%d skipped=%d keys=%d -> v%d in %.2fs",
            batch.index, batch.lo, batch.hi, res.rows_in, res.rows_skipped_hwm,
            res.keys_upserted, res.version, res.seconds,
        )
        if lineage:
            record_lineage(table.path, res, run_id=run_id)
        report.batches.append(res)
    return report


def preview(
    table: LakeTable, events: DataFrame, upper_bound: int, slice_size: int, limit: int = 10
) -> DataFrame:
    """Bounded dry run: first slice only, ``limit`` rows, no state change.

    (reference: preview? short-circuit, export_service.rb:91,140;
    SMALL_NUM_OF_RECORDS=10, client.rb:15)
    """
    cursor = get_cursor(table)
    if upper_bound <= cursor:
        return empty_frame(table.spark, events.schema)
    planner = BatchPlanner(hwm=cursor, upper_bound=upper_bound, slice_size=slice_size)
    first = planner.batches[0]
    from pyspark.sql import functions as F

    return events.filter(
        (F.col("event_seq") > first.lo) & (F.col("event_seq") <= first.hi)
    ).limit(limit)


# timestamp-string detection, mirroring the reference's format plumbing
# (column["format"]: mixpanel.rb:15-20; SchemaGuess timestamp goldens
# export_service.rb:195-197, jql_service.rb:134-136,
# test_export_service.rb:65-184). Each entry: (regex, spark format, type).
#
# Format-emission contract (round-trip guarantee): every regex below accepts
# EXACTLY the strings its Spark pattern parses. Fractions use [.SSSSSSSSS]
# (Spark's parser accepts 1..9 digits for a 9-'S' run, so '.1' and
# '.123456789' both round-trip); offsets are split into two entries because
# Spark's XXX parses only colon-form (+05:30 / Z) while no-colon offsets
# (+0530) need XX — one merged regex would type the column TimestampType
# and then NULL every value at parse time (silent data loss).
_TS_PATTERNS: list[tuple[str, str, T.DataType]] = [
    (
        r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d{1,9})?(Z|[+-]\d{2}:\d{2})$",
        "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]XXX",
        T.TimestampType(),
    ),
    (
        r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d{1,9})?[+-]\d{4}$",
        "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]XX",
        T.TimestampType(),
    ),
    (
        r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d{1,9})?$",
        "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]",
        T.TimestampType(),
    ),
    (
        r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(\.\d{1,9})?$",
        "yyyy-MM-dd HH:mm:ss[.SSSSSSSSS]",
        T.TimestampType(),
    ),
    (r"^\d{4}-\d{2}-\d{2}$", "yyyy-MM-dd", T.DateType()),
]


def _guess_ts_format(s: str) -> tuple[str, T.DataType] | None:
    import re

    for pat, fmt, typ in _TS_PATTERNS:
        if re.match(pat, s):
            return fmt, typ
    return None


def guess_schema_with_formats(
    events: DataFrame, sample: int = 10
) -> tuple[T.StructType, dict[str, str]]:
    """Schema inference from a bounded sample — the ``guess`` analog.

    The reference samples 10 records and runs SchemaGuess with per-field
    type widening plus timestamp-format detection
    (export_service.rb:188-203; client.rb:15; format plumbing
    mixpanel.rb:15-20). Same here: a LocalLimit-pushed sample, then
    driver-side widening over the parsed ``props`` JSON
    (bool < long < double < string; consistent timestamp-shaped strings
    become TimestampType/DateType with their parse format) — no RDDs, no
    full scan.

    Returns ``(schema, formats)`` where ``formats`` maps promoted column
    name -> Spark datetime pattern (only for timestamp/date columns), the
    ``column["format"]`` analog a caller feeds to ``F.to_timestamp``.
    """
    import json as _json

    rows = events.select("props").limit(sample).collect()
    # per key: a python type, or a ("ts", fmt, DataType) marker for
    # consistently timestamp-shaped strings
    widened: dict[str, object] = {}
    _rank = {bool: 0, int: 1, float: 2, str: 3}

    def _classify(v) -> object:
        if isinstance(v, str):
            ts = _guess_ts_format(v)
            if ts is not None:
                return ("ts", ts[0], ts[1])
            return str
        return type(v) if type(v) in _rank else str

    def _widen(a: object, b: object) -> object:
        if a == b:
            return a
        if isinstance(a, tuple) or isinstance(b, tuple):
            return str  # timestamp mixed with anything else (or another format)
        if {a, b} <= {int, float}:
            return float
        return str

    for r in rows:
        try:
            d = _json.loads(r[0]) if r[0] else {}
        except ValueError:
            continue
        for k, v in (d or {}).items():
            t = _classify(v)
            widened[k] = _widen(widened[k], t) if k in widened else t

    _to_spark = {bool: T.BooleanType(), int: T.LongType(), float: T.DoubleType(), str: T.StringType()}
    prop_fields: list[T.StructField] = []
    formats: dict[str, str] = {}
    for k in sorted(widened):
        t = widened[k]
        if isinstance(t, tuple):
            prop_fields.append(T.StructField(f"p_{k}", t[2], True))
            formats[f"p_{k}"] = t[1]
        else:
            prop_fields.append(T.StructField(f"p_{k}", _to_spark[t], True))
    return T.StructType(list(base_table_schema().fields) + prop_fields), formats


def guess_schema(events: DataFrame, sample: int = 10) -> T.StructType:
    """Schema-only variant of :func:`guess_schema_with_formats`."""
    return guess_schema_with_formats(events, sample)[0]
