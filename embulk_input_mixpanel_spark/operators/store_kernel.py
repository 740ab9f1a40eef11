"""The ledger protocol shared by the incremental stores.

:class:`~.incremental_dedup.IncrementalDeduper` and
:class:`~.incremental_ann.IncrementalANN` keep their state in append-only
lake tables (sources/lake.py snapshots: atomic commits, time travel,
bucket-pruned reads) that advance together, one ``batch_seq`` per ingested
batch. :class:`StoreKernel` owns everything the two have in common, so
each store keeps only its index logic.

Commit chain. Every store names a LEADER table (dedup ``sigs``, ANN
``vectors``) and FOLLOWER tables whose rows are a pure function of the
leader's rows (dedup ``buckets``/``dfreq``, ANN ``ids``).
:meth:`StoreKernel._append_batch` commits the leader first, then each
follower, all carrying ``batch_seq``. :meth:`StoreKernel._roll_forward`
heals a follower that lags its leader by re-deriving the missing rows
from ``leader.read().filter(batch_seq > follower_seq)``, never from a
snapshot file-diff: a compaction committed between the crash and the
recovery keeps every row but breaks the diff as a batch identifier.
ANY lag heals the same way. Lag 1 is a crash between two commits; a
larger lag is a follower created after the leader had batches (the
dedup cap-enable upgrade, a pre-id-index ANN store), which the
roll-forward backfills with each row's original ``batch_seq``. A
follower AHEAD of its leader is corruption and raises.

Takedown registry. ``deleted`` (id, batch_seq) is bucketed by id with the
same ``num_buckets`` as the store's id-keyed table, so one pruned bucket
list serves both the known-id read and the registry read (the mask costs
zero extra driver jobs). :meth:`StoreKernel.delete` appends ids
O(delete batch); every read path masks them at once; a redelivered
deleted id is never re-ingested. Rows are kept forever: they are the
no-reingest memory, the store-level analog of the CDC table's op='D'
tombstones (operators/merge.py). :meth:`StoreKernel.purge_deleted` drops
the rows physically through the store's ``_purge`` hook and advances the
``purged_seq`` watermark LAST, so a crash re-runs a purge that is a
no-op over already-purged rows.

:meth:`StoreKernel.maintain` runs recover, then purge, then compact and
expire over every table of the chain. Recovery comes first: compacting
across a crash window would commit a new leader snapshot while a
follower still lacks the dangling batch's rows.
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.lake import LakeTable, lake_buckets_of

__all__ = ["ID_SEQ_SCHEMA", "StoreKernel"]

# (id, batch_seq): the takedown registry's rows (and ANN's id index)
ID_SEQ_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("batch_seq", T.LongType()),
    ]
)

# (key prefix of maintain()'s stats, table, derive-from-leader-rows);
# the leader comes first and has no derive
Link = tuple[str, LakeTable, Callable[[DataFrame], DataFrame] | None]


class StoreKernel:
    """Base of the incremental stores. A subclass sets ``spark``,
    ``path``, ``ID_COL`` (the default id column of :meth:`delete`) and
    ``PURGE_STATS``, calls :meth:`_open_registry` once its id-keyed
    table exists, and implements :meth:`_chain`, :meth:`_id_table` and
    :meth:`_purge`."""

    ID_COL = "id"
    PURGE_STATS: tuple[str, ...] = ()

    spark: SparkSession
    path: str
    deleted: LakeTable

    # ---------------------------------------------------------------- hooks

    def _chain(self) -> list[Link]:
        """The leader, then its followers, in commit order. A follower's
        derive maps leader rows (with ``batch_seq``) to its own rows with
        a ``bucket`` column."""
        raise NotImplementedError

    def _id_table(self) -> LakeTable:
        """The id-keyed table the registry shares ``num_buckets`` with."""
        raise NotImplementedError

    def _purge(self, targets: DataFrame) -> dict[str, int]:
        """Physically drop ``targets``' ids (one ``id`` column) from the
        store's tables; return the ``purged_ids``/``PURGE_STATS`` counts."""
        raise NotImplementedError

    # ---------------------------------------------------------------- setup

    def _open(self, name: str, schema: T.StructType, num_buckets: int, **properties) -> LakeTable:
        """The store's ``name`` table, created with ``properties`` if missing."""
        table = LakeTable(self.spark, os.path.join(self.path, name))
        if table.exists():
            return table
        return LakeTable.create(
            self.spark, table.path, schema, num_buckets=num_buckets, properties=properties
        )

    def _open_registry(self) -> None:
        self.deleted = self._open(
            "deleted", ID_SEQ_SCHEMA, self._id_table().num_buckets,
            batch_seq=0, purged_seq=0,
        )

    # -------------------------------------------------------- commit chain

    def _pins(self) -> list[int]:
        """Current version of every chain table, for :meth:`_append_batch`
        (taken after recover(), so each pin is exact)."""
        return [table.version for _, table, _ in self._chain()]

    def _append_batch(self, rows: DataFrame, seq: int, pins: list[int], **leader_props) -> None:
        """Commit one batch: ``rows`` (carrying ``batch_seq`` and
        ``bucket``) to the leader, then each follower's derived rows, each
        commit pinned to its version in ``pins``. A crash in between
        leaves a lag that :meth:`recover` rolls forward."""
        (_, leader, _), *followers = self._chain()
        leader.commit_append(
            rows, properties={"batch_seq": seq, **leader_props}, expected_version=pins[0]
        )
        for (_, table, derive), pin in zip(followers, pins[1:]):
            table.commit_append(derive(rows), properties={"batch_seq": seq}, expected_version=pin)

    def _roll_forward(
        self, leader: LakeTable, follower: LakeTable, derive: Callable[[DataFrame], DataFrame]
    ) -> bool:
        """Append the follower's rows for every leader batch it lacks,
        stamped with the leader's ``batch_seq``. True if anything ran."""
        lead = int(leader.properties.get("batch_seq", 0))
        seq = int(follower.properties.get("batch_seq", 0))
        if seq == lead:
            return False
        if seq > lead:
            raise RuntimeError(
                f"store corrupt: {follower.path} at batch {seq} is ahead of "
                f"{leader.path} at batch {lead}"
            )
        rows = leader.read().filter(F.col("batch_seq") > F.lit(seq))
        follower.commit_append(
            derive(rows), properties={"batch_seq": lead}, expected_version=follower.version
        )
        return True

    def recover(self) -> bool:
        """Roll every lagging follower forward from the leader (see the
        module doc). Returns True if any recovery ran."""
        (_, leader, _), *followers = self._chain()
        return any([self._roll_forward(leader, t, derive) for _, t, derive in followers])

    # ------------------------------------------------------------- takedown

    def _known_ids(self, ids: DataFrame) -> tuple[DataFrame, list[int]]:
        """Ids that must never be (re-)ingested: stored ids UNION taken-down
        ids, both read over the lake buckets ``ids.id`` hashes into.
        Returns the frame and that bucket list."""
        buckets = lake_buckets_of(ids, self._id_table(), "id")
        known = self._id_table().read(buckets=buckets).select("id").unionByName(
            self.deleted.read(buckets=buckets).select("id")
        )
        return known, buckets

    def _live(self, df: DataFrame, buckets: list[int] | None = None) -> DataFrame:
        """``df`` without taken-down ids; the registry read is pruned to
        ``buckets`` (of the id-keyed layout) when given."""
        return df.join(self.deleted.read(buckets=buckets).select("id"), "id", "left_anti")

    def delete(self, ids, id_col: str | None = None) -> int:
        """Take ids down: logically delete them from the store.

        O(delete batch): one bucket-pruned idempotence anti-join and one
        atomic registry append, never a rewrite of store state (the
        physical drop is :meth:`purge_deleted`). Effective at once on
        every read path. Deletion is terminal for an id, and deleting
        ahead of delivery blocks the id from ever entering the store.

        ``ids``: a DataFrame carrying ``id_col`` (default: the store's
        ``ID_COL``), or an iterable of ints. Returns the number of ids
        newly recorded (already-deleted ids are accepted and deduped)."""
        if isinstance(ids, DataFrame):
            want = ids.select(F.col(id_col or self.ID_COL).cast("long").alias("id")).distinct()
        else:
            want = self.spark.createDataFrame([(int(i),) for i in ids], "id BIGINT").distinct()
        del_v = self.deleted.version
        seq = int(self.deleted.properties.get("batch_seq", 0)) + 1
        pruned = lake_buckets_of(want, self.deleted, "id")
        already = self.deleted.read(buckets=pruned).select("id")
        fresh = want.join(already, "id", "left_anti").localCheckpoint(eager=True)
        n = fresh.count()
        if n:
            self.deleted.commit_append(
                fresh.select("id", F.lit(seq).cast("long").alias("batch_seq"))
                .withColumn("bucket", self.deleted.bucket_expr("id")),
                properties={"batch_seq": seq},
                expected_version=del_v,
            )
        return n

    def purge_deleted(self) -> dict[str, int]:
        """Physically drop the rows of ids deleted since the last purge
        (logical deletion already happened at :meth:`delete`). Run from
        :meth:`maintain`. Idempotent and crash-safe without a recovery
        protocol: reads are already masked, every step is a pure function
        of durable state, and the ``purged_seq`` watermark (advanced LAST)
        only skips work, never changes results."""
        self.recover()
        del_seq = int(self.deleted.properties.get("batch_seq", 0))
        purged = int(self.deleted.properties.get("purged_seq", 0))
        out = dict.fromkeys(("purged_ids", *self.PURGE_STATS), 0)
        if del_seq == purged:
            return out
        targets = (
            self.deleted.read()
            .filter(F.col("batch_seq") > F.lit(purged))
            .select("id")
            .localCheckpoint(eager=True)
        )
        out.update(self._purge(targets))
        self.deleted.commit_properties({"purged_seq": del_seq})
        return out

    def _rewrite_without(
        self, table: LakeTable, buckets: list[int], targets: DataFrame, bucket: Column
    ) -> None:
        """Copy-on-write ``buckets`` of ``table`` without ``targets``' ids.
        The rewrite is pinned to the version the keep-set is read at: an
        append landing in between aborts the purge (ConcurrentCommitError,
        rerun later) instead of being erased by the stale bucket rewrite."""
        if not buckets:
            return
        pin = table.version
        keep = table.read(buckets=buckets).join(targets, "id", "left_anti")
        table.commit_rewrite(
            keep.withColumn("bucket", bucket), touched_buckets=buckets, expected_version=pin
        )

    # ---------------------------------------------------------- maintenance

    def maintain(self, max_files_per_bucket: int = 8, keep_snapshots: int = 10) -> dict[str, Any]:
        """Background maintenance: recover FIRST, purge pending takedowns,
        then compact every chain table's buckets that hold more than
        ``max_files_per_bucket`` files and expire superseded snapshots.

        Ingest appends >=1 file per lake bucket per batch, so after B
        batches a pruned read opens O(B) files per bucket; compaction
        restores O(1). Compaction is a pure physical rewrite (results are
        unchanged) and safe beside a live writer (LakeTable.compact skips
        buckets that change under it)."""
        out: dict[str, Any] = {"recovered": self.recover()}
        out.update(self.purge_deleted())
        for prefix, table, _ in self._chain():
            _, st = table.compact(min_files=max_files_per_bucket + 1)
            out[f"{prefix}buckets_compacted"] = st["buckets_compacted"]
            out[f"{prefix}files_in"] = st["files_in"]
            out[f"{prefix}files_out"] = st["files_out"]
            out[f"{prefix}files_expired"] = len(table.expire_snapshots(keep_last=keep_snapshots))
        return out
