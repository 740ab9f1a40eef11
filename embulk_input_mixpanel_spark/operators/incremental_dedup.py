"""Incremental cross-batch near-dup detection: O(batch) per ingest step.

Batch-mode dedup (operators/dedup.py) recomputes signatures over the whole
corpus per run. A training pipeline ingests INCREMENTALLY (the reference's
entire design is incremental windows — export_service.rb:59-65), so dedup
must be incremental too: per new batch, shingle/hash ONLY the new docs and
join them against persisted state.

State lives in lake tables chained by the shared store protocol
(operators/store_kernel.py: commit order, any-lag roll-forward, the
``deleted`` takedown registry, purge and maintain):

- ``sigs``    (id, shs, mh_0..mh_{k-1}, batch_seq), bucketed by id — the
  chain's leader: the per-doc shingle set + MinHash signature, read back
  ONLY for docs that appear in candidate pairs (bucket-pruned by id).
- ``buckets`` (band, bk, id, batch_seq), bucketed by (band, bk) —
  the LSH band index. A new batch's band keys join against it to find
  old->new candidates; reads prune to the lake buckets its keys hash
  into, so a small batch touches a fraction of the index files.
- ``dfreq``   (sh, cnt, batch_seq), bucketed by sh — OPTIONAL (present
  when ``max_shingle_docs`` is set): append-only per-batch document-
  frequency deltas, summed on read, pruned to the batch's shingle
  universe. The persistent belt against boilerplate shingles.

``buckets`` and ``dfreq`` follow ``sigs``: band keys are pure functions of
the stored mh columns and df deltas are pure functions of the stored
shingle sets, so the kernel rebuilds either from ``sigs`` rows after a
crash or a cap-enable upgrade.

Cost model per batch (the 100 TB story): shingling/hashing is O(batch)
(the expensive text explosion never re-touches old docs); the index join
is one hash join keyed (band, bk) against bucket-pruned index files; the
exact rescore reads only candidate docs' signature rows. Appends are
:meth:`LakeTable.commit_append` — new files only, never a copy-on-write
of history, so commit cost is O(batch) regardless of corpus size.
Redelivered batches are dropped by an id anti-join against ``sigs``
(bucket-pruned), making ingestion idempotent; their original pair
OUTPUT is recomputable via :meth:`redelivered_pairs`. Concurrent writers
are rejected by the tables' optimistic version guard.

Two hot-key belts:

- the LSH bucket-size cap (``max_bucket_size``, always on): a band
  bucket whose COMBINED old+new occupancy exceeds the cap contributes no
  candidates (same belt as dedup.lsh_candidate_pairs).
- an optional PERSISTENT document-frequency cap (``max_shingle_docs``):
  a third lake table ``dfreq`` (shingle_hash, count-delta) accumulates
  per-batch df deltas; shingles whose stored+batch df exceeds the cap
  are dropped from the batch's signatures BEFORE minhashing. This is the
  belt that saves RECALL under boilerplate: 10k docs sharing a license
  header would otherwise minhash into the same mega-buckets, and the
  bucket cap would drop their candidates wholesale — with the df-cap the
  header shingles are excluded and the docs' REMAINING content decides
  similarity. The df is necessarily drifting (docs ingested before a
  shingle crossed the cap keep it in their stored sigs — a global
  recount would be O(corpus) per batch), so cross-boundary pairs see an
  asymmetric shingle universe; a drifting belt beats no belt at 100 TB.
  Deltas are counted from the POST-cap signature sets, making crash
  roll-forward a pure function of stored sigs.
"""

from __future__ import annotations

import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.lake import LakeTable, empty_frame, lake_buckets_of
from .dedup import _derived, _minhash_band_keys, _raw_shingles, _rebalance, base31
from .store_kernel import Link, StoreKernel

__all__ = ["IncrementalDeduper"]

PAIR_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("jaccard", T.DoubleType()),
    ]
)


def _sig_schema(k: int) -> T.StructType:
    # shs holds xxhash64(shingle), not the shingle text: Jaccard over an
    # injective-enough hash equals Jaccard over the strings (64-bit
    # collision odds ~1e-8 at 1M distinct shingles), the sig table stores
    # 8 bytes per shingle instead of its text, and the exact-rescore
    # array_intersect compares longs instead of strings
    return T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("shs", T.ArrayType(T.LongType())),
            *[T.StructField(f"mh_{i}", T.LongType()) for i in range(k)],
            T.StructField("batch_seq", T.LongType()),
        ]
    )


_BUCKET_SCHEMA = T.StructType(
    [
        T.StructField("band", T.IntegerType()),
        T.StructField("bk", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("batch_seq", T.LongType()),
    ]
)

# append-only df deltas; readers SUM per sh (compaction-safe)
_DFREQ_SCHEMA = T.StructType(
    [
        T.StructField("sh", T.LongType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("batch_seq", T.LongType()),
    ]
)


def _df_deltas(sigs: DataFrame) -> DataFrame:
    """Per-batch document-frequency deltas of signature rows' shingle
    sets (the POST-cap sets, so the deltas are a pure function of
    stored sigs)."""
    return (
        sigs.select(F.explode("shs").alias("sh"), "batch_seq")
        .groupBy("sh", "batch_seq")
        .agg(F.count("*").alias("cnt"))
    )


class IncrementalDeduper(StoreKernel):
    """Persistent MinHash-LSH dedup state + per-batch ingest.

    ``add_batch(docs)`` returns the NEW near-dup pairs this batch creates
    (new-new and old-new; old-old pairs were reported when their batch
    arrived) and commits the batch's signatures + band index.
    """

    ID_COL = "doc_id"
    PURGE_STATS = ("sig_buckets_rewritten", "index_buckets_rewritten")

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        k: int = 24,
        n_bands: int = 8,
        n: int = 3,
        threshold: float = 0.85,
        portable: bool = False,
        max_bucket_size: int = 1000,
        num_buckets: int = 32,
        max_shingle_docs: int | None = None,
    ):
        if k % n_bands != 0:
            raise ValueError(f"k ({k}) must be divisible by n_bands ({n_bands})")
        self.spark = spark
        self.path = os.path.abspath(path)
        self.k, self.n_bands, self.n = k, n_bands, n
        self.threshold = threshold
        self.portable = portable
        self.max_bucket_size = max_bucket_size
        self.max_shingle_docs = max_shingle_docs
        # JSON null can't distinguish "uncapped" from "pre-upgrade store":
        # encode None as "none"
        cap = max_shingle_docs if max_shingle_docs is not None else "none"
        self.sigs = self._open(
            "sigs", _sig_schema(k), num_buckets, batch_seq=0, k=k,
            n_bands=n_bands, n=n, portable=portable, max_shingle_docs=cap,
        )
        # a mismatched reopen would compute band keys / minhashes for new
        # batches inconsistently with the persisted index — old-new
        # candidates silently missed forever. Validate every parameter
        # that shapes the stored signatures (properties a pre-upgrade store
        # never wrote are skipped).
        props = self.sigs.properties
        upgrade = False
        for name, mine in (
            ("k", k), ("n_bands", n_bands), ("n", n), ("portable", portable),
            ("max_shingle_docs", cap),
        ):
            stored = props.get(name)
            if stored is None or stored == mine:
                continue
            if name == "max_shingle_docs" and stored == "none":
                # ENABLING the cap on an uncapped store is a safe upgrade:
                # recover()'s any-lag roll-forward backfills the fresh
                # dfreq from all stored signature sets (the cap is a
                # drifting belt by design — already-stored sigs
                # legitimately keep their uncapped shingles). Disabling or
                # CHANGING a cap stays an error: the cap is stamped below
                # so later reopens validate against it.
                upgrade = True
                continue
            raise ValueError(
                f"store at {self.path} was created with {name}={stored}; "
                f"reopening with {name}={mine} would desynchronize new "
                "signatures from the persisted index"
            )
        self.buckets = self._open("buckets", _BUCKET_SCHEMA, num_buckets, batch_seq=0)
        self._open_registry()
        self.dfreq = None
        if max_shingle_docs is not None:
            self.dfreq = self._open("dfreq", _DFREQ_SCHEMA, num_buckets, batch_seq=0)
        if upgrade:
            self.sigs.commit_properties({"max_shingle_docs": max_shingle_docs})

    # ------------------------------------------------------------ internals

    def _chain(self) -> list[Link]:
        chain: list[Link] = [
            ("sigs_", self.sigs, None),
            ("buckets_", self.buckets, lambda rows: self._band_index_rows(rows).withColumn(
                "bucket", self.buckets.bucket_expr("band", "bk"))),
        ]
        if self.dfreq is not None:
            chain.append(("dfreq_", self.dfreq, lambda rows: _df_deltas(rows).withColumn(
                "bucket", self.dfreq.bucket_expr("sh"))))
        return chain

    def _id_table(self) -> LakeTable:
        return self.sigs

    def _band_index_rows(self, sig_df: DataFrame) -> DataFrame:
        """(id, mh_*, batch_seq) -> band index rows (band, bk, id, batch_seq)."""
        keys = _minhash_band_keys(self.k, self.n_bands)
        return sig_df.select(F.posexplode(keys).alias("band", "bk"), "id", "batch_seq")

    def _purge(self, targets: DataFrame) -> dict[str, int]:
        """Copy-on-write of ONLY the affected lake buckets of the band
        index, then ``sigs``, then negative df deltas so the persistent
        df-cap stops counting purged docs. Band-index rows are located
        from the sigs mh columns, so the index purge runs BEFORE the sigs
        purge; a crash in between leaves dangling index rows that the NEXT
        purge cannot locate — they are harmless (masked candidates die at
        the rescore join) and vanish at the next bucket-cap-triggering
        rewrite or store rebuild."""
        n = targets.count()
        if not n:
            return {}
        sig_buckets = lake_buckets_of(targets, self.sigs, "id")
        dsigs = (
            self.sigs.read(buckets=sig_buckets)
            .join(targets, "id", "left_semi")
            .localCheckpoint(eager=True)
        )
        # 1) band index (needs the sigs mh columns, so it goes first)
        keys = self._band_index_rows(dsigs).select("band", "bk")
        idx_buckets = lake_buckets_of(keys, self.buckets, "band", "bk")
        self._rewrite_without(
            self.buckets, idx_buckets, targets, self.buckets.bucket_expr("band", "bk")
        )
        # 2) sigs (after this, a crash-rerun finds no dsigs rows, so step
        #    3 can never double-subtract)
        self._rewrite_without(self.sigs, sig_buckets, targets, self.sigs.bucket_expr("id"))
        # 3) negative df deltas from the purged docs' post-cap sets (dsigs
        #    was checkpointed BEFORE the sigs rewrite). A crash between
        #    step 2 and here under-subtracts — the df then overcounts,
        #    which only makes the cap belt more conservative; the reverse
        #    order could double-subtract and resurrect boilerplate, which
        #    loses recall.
        if self.dfreq is not None:
            self.dfreq.commit_append(
                _df_deltas(dsigs).withColumn("cnt", -F.col("cnt"))
                .withColumn("bucket", self.dfreq.bucket_expr("sh"))
            )
        return dict(
            purged_ids=n,
            sig_buckets_rewritten=len(sig_buckets),
            index_buckets_rewritten=len(idx_buckets),
        )

    # ----------------------------------------------------------- redelivery

    def redelivered_pairs(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Re-derive the near-dup pairs a FULLY-REDELIVERED batch produced
        when it was first ingested — entirely from durable store state.

        The exactly-once story for pair OUTPUT (not just store state): a
        driver that crashed after ``add_batch``'s commits but before
        persisting the returned pairs gets an empty frame on rerun (the
        id anti-join correctly drops the whole batch) — silently losing
        that batch's pairs downstream. This method closes the hole:
        given the same batch, it recomputes the pairs that batch emitted,
        so rerun-then-overwrite is idempotent (bin/dedup.py calls it
        automatically when a non-empty batch ingests zero new docs).

        Definition recomputed: pairs (a<b, jaccard >= threshold) with at
        least one endpoint in the batch and ``max(seq_a, seq_b)`` among
        the batch's ingest seq(s) — exactly the new-new + old-new set
        ``add_batch`` emitted. Everything needed is durable: band keys
        are pure functions of the stored mh columns, the exact rescore
        reads stored shingle-hash sets, and emitted-by is decided from
        the stored per-row batch_seq. All store reads are bucket-pruned
        (O(batch + candidates) files). One caveat mirrors add_batch's
        belt: the bucket-size cap is evaluated against CURRENT bucket
        occupancy, so a bucket that crossed the cap since the original
        ingest drops its candidates (at-least-once, never spurious
        pairs). Intended for exact redelivery of a previously-ingested
        batch; a batch mixing docs from several original batches returns
        the union of those batches' pairs touching the given docs."""
        empty = empty_frame(self.spark, PAIR_SCHEMA)
        ids = docs.select(F.col(id_col).cast("long").alias("id")).distinct()
        id_lake_buckets = lake_buckets_of(ids, self.sigs, "id")
        # takedown mask: a deleted doc's original pairs are not
        # re-derivable (its content is logically gone)
        mine = self._live(
            self.sigs.read(buckets=id_lake_buckets).join(ids, "id", "left_semi"),
            id_lake_buckets,
        ).localCheckpoint(eager=True)
        seqs = sorted(
            int(r["batch_seq"]) for r in mine.select("batch_seq").distinct().collect()
        )
        if not seqs:
            return empty

        # band keys from the stored mh columns -> candidate ids from the
        # stored index (includes the batch itself: it's stored now, so
        # new-new and old-new candidates both fall out of one expansion)
        nb = self._band_index_rows(mine).select("band", "bk")
        key_lake_buckets = lake_buckets_of(nb, self.buckets, "band", "bk")
        key_set = nb.distinct()
        stored = (
            self.buckets.read(buckets=key_lake_buckets)
            .join(F.broadcast(key_set), ["band", "bk"], "left_semi")
            .groupBy("band", "bk")
            .agg(F.collect_set("id").alias("bucket_ids"))
            .filter(F.size("bucket_ids") <= self.max_bucket_size)
        )
        cand = (
            stored.select(F.explode("bucket_ids").alias("id_a"), "bucket_ids")
            .select("id_a", F.explode("bucket_ids").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
        )
        # >=1 endpoint must be in the redelivered batch
        cand = (
            cand.join(mine.select(F.col("id").alias("id_a")), "id_a", "left_semi")
            .unionByName(
                cand.join(mine.select(F.col("id").alias("id_b")), "id_b", "left_semi")
            )
            .distinct()
        )

        cids = cand.select(F.col("id_a").alias("id")).unionByName(
            cand.select(F.col("id_b").alias("id"))
        ).distinct()
        cand_lake_buckets = lake_buckets_of(cids, self.sigs, "id")
        csigs = self._live(
            self.sigs.read(buckets=cand_lake_buckets).join(cids, "id", "left_semi"),
            cand_lake_buckets,
        ).select("id", "shs", "batch_seq")
        a = csigs.select(
            F.col("id").alias("id_a"), F.col("shs").alias("shs_a"),
            F.col("batch_seq").alias("seq_a"),
        )
        b = csigs.select(
            F.col("id").alias("id_b"), F.col("shs").alias("shs_b"),
            F.col("batch_seq").alias("seq_b"),
        )
        inter = F.size(F.array_intersect("shs_a", "shs_b"))
        return (
            cand.join(a, "id_a")
            .join(b, "id_b")
            .filter(F.greatest("seq_a", "seq_b").isin(seqs))
            .select(
                "id_a",
                "id_b",
                F.round(
                    inter / (F.size("shs_a") + F.size("shs_b") - inter), 6
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= self.threshold)
            .localCheckpoint(eager=True)
        )

    # --------------------------------------------------------------- ingest

    def add_batch(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        stats: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Ingest one batch; return its NEW near-dup pairs
        (id_a < id_b, jaccard >= threshold, at least one side new).

        The returned frame is eagerly localCheckpoint'ed, so it stays
        valid after the commits and carries no store lineage.
        """
        t0 = time.monotonic()
        ran_recovery = self.recover()
        batch_seq = int(self.sigs.properties.get("batch_seq", 0)) + 1
        pins = self._pins()

        # a redelivered (or DELETED) doc must never re-enter the store.
        # The batch is widened ONCE, on its exchange-free scan; the
        # explosion below runs on the anti-joined frame as it stands
        known, _ = self._known_ids(docs.select(F.col(id_col).cast("long").alias("id")))
        fresh = (
            _rebalance(docs)
            .select(F.col(id_col).cast("long").alias(id_col), F.col(text_col))
            .join(known, F.col(id_col) == known.id, "left_anti")
        )
        t_prune = time.monotonic()

        # ONE explosion of the batch -> per-doc shingle set + signature
        sh = _raw_shingles(fresh, text_col, id_col, self.n).distinct()
        if self.dfreq is not None:
            # persistent df-cap: hot = shingles whose stored df (sum of
            # per-batch deltas, bucket-pruned to the BATCH's shingle
            # universe) plus this batch's df exceeds the cap. The hot set
            # is tiny (only ultra-common shingles) -> broadcast anti-join.
            batch_cnt = sh.groupBy(F.xxhash64("shingle").alias("sh")).agg(
                F.count("*").alias("bc")
            )
            df_lake_buckets = lake_buckets_of(batch_cnt, self.dfreq, "sh")
            stored_cnt = (
                self.dfreq.read(buckets=df_lake_buckets)
                .join(batch_cnt.select("sh"), "sh", "left_semi")
                .groupBy("sh")
                .agg(F.sum("cnt").alias("sc"))
            )
            hot = (
                batch_cnt.join(stored_cnt, "sh", "left")
                .filter(
                    F.col("bc") + F.coalesce(F.col("sc"), F.lit(0))
                    > F.lit(self.max_shingle_docs)
                )
                .select("sh")
            )
            sh = sh.join(
                F.broadcast(hot), F.xxhash64(sh.shingle) == hot.sh, "left_anti"
            )
        hs = _derived(base31("shingle", self.portable), self.k)
        perdoc = sh.groupBy("id").agg(
            F.collect_set(F.xxhash64("shingle")).alias("shs"),
            *[F.min(h).alias(f"mh_{i}") for i, h in enumerate(hs)],
        ).localCheckpoint(eager=True)
        rows = perdoc.withColumn("batch_seq", F.lit(batch_seq).cast("long"))
        t_sig = time.monotonic()

        # band keys of the batch; ONE fused driver job computes n_new AND
        # the band-key lake-bucket set (formerly a count + a collect)
        newb = self._band_index_rows(rows)
        fused = newb.agg(
            F.countDistinct("id").alias("n"),
            F.collect_set(self.buckets.bucket_expr("band", "bk")).alias("bks"),
        ).first()
        n_new = int(fused["n"])
        key_lake_buckets = sorted(int(b) for b in fused["bks"])
        t_keys = time.monotonic()

        empty = empty_frame(self.spark, PAIR_SCHEMA)
        if n_new == 0:
            if stats is not None:
                stats.update(n_new=0, recovered=ran_recovery)
            return empty

        new_keys = newb.groupBy("band", "bk").agg(F.collect_set("id").alias("new_ids"))

        # old side: prune the band index to the lake buckets the batch's
        # keys hash into, SEMI-JOIN the batch's key set BEFORE aggregating
        # (the aggregate must see O(batch-matching) index rows, never the
        # whole stored index — groupBy-then-join would re-aggregate the
        # full corpus index every batch), then ONE hash join on (band, bk)
        snap_files = self.buckets.snapshot().files
        new_key_set = new_keys.select("band", "bk")
        stored = (
            self.buckets.read(buckets=key_lake_buckets)
            .join(F.broadcast(new_key_set), ["band", "bk"], "left_semi")
            .groupBy("band", "bk")
            .agg(F.collect_set("id").alias("old_ids"))
        )
        combined = new_keys.join(stored, ["band", "bk"], "left").select(
            "band", "bk", "new_ids",
            F.coalesce(F.col("old_ids"), F.expr("CAST(array() AS ARRAY<BIGINT>)")).alias("old_ids"),
        )
        # bucket-size belt over the COMBINED occupancy (same rationale as
        # dedup.lsh_candidate_pairs — a mega-bucket is a mass-duplicate
        # signal, not a candidate source)
        combined = combined.filter(
            (F.size("new_ids") + F.size("old_ids")) <= self.max_bucket_size
        )
        new_new = (
            combined.filter(F.size("new_ids") >= 2)
            .select(F.explode("new_ids").alias("id_a"), "new_ids")
            .select("id_a", F.explode("new_ids").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
        )
        old_new = (
            combined.filter(F.size("old_ids") >= 1)
            .select(F.explode("old_ids").alias("oid"), "new_ids")
            .select("oid", F.explode("new_ids").alias("nid"))
            .select(
                F.least("oid", "nid").alias("id_a"),
                F.greatest("oid", "nid").alias("id_b"),
            )
        )
        # eager checkpoint: the candidate set feeds BOTH the old-id bucket
        # collect below and the rescore join — without it the whole index
        # join + explosion subtree executes twice (final stages re-run
        # even with shuffle-stage reuse; measured ~25% of the small-batch
        # fixed cost)
        cand = new_new.unionByName(old_new).distinct().localCheckpoint(eager=True)

        # exact rescore: shingle sets from the in-flight batch plus a
        # bucket-pruned read of ONLY the candidate old docs' sig rows
        old_ids = cand.select(F.col("id_a").alias("id")).unionByName(
            cand.select(F.col("id_b").alias("id"))
        ).join(perdoc.select("id"), "id", "left_anti").distinct()
        old_lake_buckets = lake_buckets_of(old_ids, self.sigs, "id")
        t_cand = time.monotonic()
        # anti-join the takedown registry (pruned by the same candidate
        # buckets): a not-yet-purged deleted doc still has sig rows, and
        # pairs against it must not be emitted — without its sig row the
        # candidate dies at the inner rescore join below
        old_sigs = self._live(
            self.sigs.read(buckets=old_lake_buckets).join(old_ids, "id", "left_semi"),
            old_lake_buckets,
        ).select("id", "shs")
        allsigs = perdoc.select("id", "shs").unionByName(old_sigs)
        a = allsigs.select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a"))
        b = allsigs.select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b"))
        inter = F.size(F.array_intersect("shs_a", "shs_b"))
        pairs = (
            cand.join(a, "id_a")
            .join(b, "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(
                    inter / (F.size("shs_a") + F.size("shs_b") - inter), 6
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= self.threshold)
            .localCheckpoint(eager=True)  # valid past the commits below
        )
        t_rescore = time.monotonic()

        # sigs first, then the band index and df deltas derived from the
        # same rows (recover() rolls them forward if we die in between)
        self._append_batch(rows.withColumn("bucket", self.sigs.bucket_expr("id")), batch_seq, pins)
        t_commit = time.monotonic()

        if stats is not None:
            total_files = sum(len(fl) for fl in snap_files.values())
            read_files = sum(
                len(snap_files.get(str(bkt), [])) for bkt in key_lake_buckets
            )
            stats.update(
                n_new=n_new,
                batch_seq=batch_seq,
                recovered=ran_recovery,
                n_candidates=cand.count(),  # cheap: cand is checkpointed
                index_files_total=total_files,
                index_files_read=read_files,
                index_lake_buckets_read=len(key_lake_buckets),
                index_lake_buckets_total=self.buckets.num_buckets,
                sig_lake_buckets_read=len(old_lake_buckets),
                timings={
                    "prune": round(t_prune - t0, 3),
                    "signatures": round(t_sig - t_prune, 3),
                    "band_keys": round(t_keys - t_sig, 3),
                    "candidates": round(t_cand - t_keys, 3),
                    "rescore": round(t_rescore - t_cand, 3),
                    "commits": round(t_commit - t_rescore, 3),
                },
            )
        return pairs
