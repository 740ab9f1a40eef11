"""Incremental ANN: a persistent IVF index where the lake bucketing IS
the index.

Batch-mode IVF (operators/similarity.py::ivf_topk) re-assigns the whole
corpus per query run. A training pipeline ingests embeddings
INCREMENTALLY (the reference's whole design is incremental windows —
export_service.rb:59-65), so the index must be incremental too: per new
batch, assign ONLY the new vectors against frozen centroids (a broadcast
join + max-of-struct argmax, O(batch)) and append them to a lake table
bucketed BY CLUSTER with ``num_buckets == n_centroids``. That makes the
physical layout the inverted file: probing a cluster == opening exactly
that lake bucket's parquet files, so a top-k probe reads
``n_probe / n_centroids`` of the corpus bytes at any corpus size — the
file-level pruning the IVF paper promises, realized through snapshot
file lists instead of a custom storage engine.

Lake tables (the shared commit chain, takedown registry, purge and
maintain are operators/store_kernel.py's):
- ``cent``    (centroid_id int, cv array<double>) — the tiny broadcast
  dim, trained once from the FIRST non-empty batch (the ``n_centroids``
  lowest-id vectors, matching similarity.ivf_assign's deterministic
  seeding so the incremental path is oracle-comparable against the
  one-shot SQL); re-trained only by an explicit :meth:`retrain`.
  Carries ``epoch`` (bumped per (re)train) — the consistency token
  between centroids and stored assignments.
- ``vectors`` (id long, v array<double>, cluster int, cos_r double,
  batch_seq long), bucket = cluster — the chain's leader. Carries
  ``cent_epoch``: the epoch its cluster assignments were computed
  against.
- ``ids``     (id long, batch_seq long), bucket = id — the idempotence
  index, a follower of ``vectors`` (a pure projection of its rows, so
  the kernel's roll-forward rebuilds any lag, including a store created
  before the index existed). Redelivery filtering anti-joins the batch
  against ONLY the lake buckets its own ids hash into, so the known-id
  scan is O(batch) files at any corpus size (the structure ``vectors``
  itself cannot provide: it is bucketed by cluster, which a new vector's
  id says nothing about).

Epoch consistency (:meth:`recover`, called at the top of
:meth:`add_batch` and :meth:`maintain`): :meth:`retrain` commits
``cent`` (epoch e+1) before the vectors rewrite; a crash or
optimistic-concurrency abort in between leaves
``vectors.cent_epoch < cent.epoch``, which recover() heals by
re-assigning the stored corpus against the current centroids — a pure
function of durable state, so the roll-forward is idempotent.

Idempotence: redelivered ids are dropped by the bucket-pruned anti-join
above. Concurrent writers are rejected by the tables' optimistic version
guard; an ingest that raced a retrain aborts (and the store heals via
recover) rather than publishing assignments against superseded
centroids.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.lake import ConcurrentCommitError, LakeTable
from .dedup import _rebalance
from .similarity import _cosine_n, _norm, _to_double
from .store_kernel import ID_SEQ_SCHEMA, Link, StoreKernel

__all__ = ["IncrementalANN"]

_CENT_SCHEMA = T.StructType(
    [
        T.StructField("centroid_id", T.IntegerType()),
        T.StructField("cv", T.ArrayType(T.DoubleType())),
    ]
)


_VEC_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.ArrayType(T.DoubleType())),
        T.StructField("cluster", T.IntegerType()),
        T.StructField("cos_r", T.DoubleType()),
        T.StructField("batch_seq", T.LongType()),
    ]
)

# the id index has the takedown registry's (id, batch_seq) shape
_ID_SCHEMA = ID_SEQ_SCHEMA


def _argmax_centroid(scored: DataFrame) -> DataFrame:
    """(id, centroid_id, cos_r) -> best centroid per id, as a partial-agg
    max-of-struct (map-side combine; same pattern as similarity.ivf_assign
    — never a window over the n x n_centroids cross-score)."""
    w = F.max(
        F.struct(
            F.col("cos_r").alias("c"),
            (-F.col("centroid_id")).alias("negid"),
            F.col("centroid_id").alias("cid"),
        )
    ).alias("_w")
    return (
        scored.groupBy("id")
        .agg(w)
        .select("id", F.col("_w.cid").alias("cluster"), F.col("_w.c").alias("cos_r"))
    )


class IncrementalANN(StoreKernel):
    """Persistent IVF index + per-batch ingest + bucket-pruned probes."""

    ID_COL = "vec_id"
    PURGE_STATS = ("vector_buckets_rewritten",)

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_centroids: int | None = None,
        id_buckets: int = 32,
    ):
        """``n_centroids``: index fanout at CREATION (default 8). On
        reopen the STORED value is authoritative (it can have grown via
        ``retrain(n_centroids=...)``); passing an explicit value that
        disagrees raises — the bucket layout follows the store, not the
        caller."""
        self.spark = spark
        self.path = os.path.abspath(path)
        self.cent = self._open(
            "cent", _CENT_SCHEMA, 1, trained=False,
            n_centroids=8 if n_centroids is None else int(n_centroids), epoch=0,
        )
        stored = int(self.cent.properties.get("n_centroids", n_centroids or 8))
        if n_centroids is not None and stored != int(n_centroids):
            raise ValueError(
                f"store at {self.path} currently has n_centroids={stored}; "
                f"reopening with n_centroids={n_centroids} would probe a "
                "bucket layout the stored assignments don't follow — grow "
                "the fanout with retrain(n_centroids=...) instead"
            )
        self.n_centroids = stored
        # bucket == cluster: the bucketing IS the inverted file
        self.vectors = self._open(
            "vectors", _VEC_SCHEMA, self.n_centroids, batch_seq=0, cent_epoch=0
        )
        self.ids = self._open("ids", _ID_SCHEMA, id_buckets, batch_seq=0)
        self._open_registry()

    # ------------------------------------------------------------ internals

    def _chain(self) -> list[Link]:
        return [
            ("", self.vectors, None),
            ("ids_", self.ids, lambda rows: rows.select("id", "batch_seq").withColumn(
                "bucket", self.ids.bucket_expr("id"))),
        ]

    def _id_table(self) -> LakeTable:
        return self.ids

    def _centroids(self) -> DataFrame:
        return self.cent.read().select("centroid_id", F.col("cv").alias("_cv"))

    def _train_from(self, vecs: DataFrame) -> None:
        """Seed centroids = the ``n_centroids`` lowest-id vectors of the
        first NON-EMPTY batch (deterministic — mirrors
        similarity.ivf_assign, so the one-shot SQL oracle stays
        expressible). Production retrains with :meth:`retrain` once
        enough data has arrived. Callers guarantee ``vecs`` is non-empty:
        committing trained=True from an empty frame would freeze ZERO
        centroids and silently ingest nothing forever after."""
        # TakeOrderedAndProject (distributed top-n) first; the window only
        # ranks the n_centroids survivors — never a global sort
        low = vecs.orderBy("id").limit(self.n_centroids)
        w = Window.orderBy("id")
        cent = (
            low.withColumn("_rn", F.row_number().over(w))
            .select(
                (F.col("_rn") - 1).cast("int").alias("centroid_id"),
                F.col("v").alias("cv"),
            )
        )
        epoch = int(self.cent.properties.get("epoch", 0)) + 1
        self.cent.commit_rewrite(
            cent.withColumn("bucket", F.lit(0)),
            touched_buckets=[0],
            properties={"trained": True, "epoch": epoch},
            expected_version=self.cent.version,
        )

    def _score_against_centroids(self, vecs: DataFrame) -> DataFrame:
        """(id, v) -> (id, v, cluster, cos_r): broadcast-centroid score +
        one partial-agg argmax."""
        cent = self._centroids().select(
            "centroid_id", "_cv", _norm("_cv").alias("_cn")
        )
        vn = vecs.select("id", "v", _norm("v").alias("_vn"))
        scored = F.broadcast(cent).join(vn).select(
            "id", "centroid_id",
            F.round(
                _cosine_n("v", "_cv", F.col("_vn"), F.col("_cn")), 4
            ).alias("cos_r"),
        )
        return _argmax_centroid(scored).join(vecs, "id")

    def _reassign_all(self) -> None:
        """Rewrite every stored vector's assignment against the CURRENT
        centroids and stamp the table with the centroids' epoch — the
        roll-forward half of retrain, also used by recover() when a crash
        or raced writer left assignments behind the centroid epoch. Pure
        function of durable state, so re-running it is idempotent.

        The rewrite is guarded by the version the corpus was READ at: a
        concurrent add_batch whose vectors append lands between our read
        and our rewrite would otherwise be silently erased by the stale
        full rewrite (its ids append still lands, so its vectors would be
        forever 'known' yet absent — unrecoverable even by redelivery).
        On ConcurrentCommitError the epoch mismatch simply persists and
        the next recover() re-heals it against fresher state.

        A FULL rewrite by definition, so it always (re-)buckets the table
        to the current centroid fanout — which is how recover() heals a
        crash between a growing retrain's centroid commit and its vectors
        rewrite (the re-bucket rides the same roll-forward)."""
        epoch = int(self.cent.properties.get("epoch", 0))
        nc = int(self.cent.properties.get("n_centroids", self.n_centroids))
        vec_v = self.vectors.version
        # anti-join the takedown registry: the full rewrite doubles as a
        # physical purge of deleted vectors
        corpus = self._live(self.vectors.read()).select("id", "v", "batch_seq")
        newassign = self._score_against_centroids(corpus.select("id", "v")).join(
            corpus.select("id", "batch_seq"), "id"
        )
        self.vectors.commit_rewrite(
            newassign.select(
                "id", "v", "cluster", "cos_r", "batch_seq",
                F.col("cluster").alias("bucket"),
            ),
            touched_buckets=list(range(nc)),
            properties={"cent_epoch": epoch},
            expected_version=vec_v,
            num_buckets=nc,
        )
        self.n_centroids = nc

    def recover(self) -> bool:
        """Roll forward any interrupted multi-table commit sequence.

        Two healable states: a dangling vectors batch whose id-index rows
        never committed (the kernel's roll-forward), and a centroid epoch
        ahead of the stored assignments (crashed/aborted retrain). Both
        roll-forwards are pure functions of durable state. Returns True
        if any recovery ran."""
        ran = super().recover()
        nc = int(self.cent.properties.get("n_centroids", self.n_centroids))
        if int(self.vectors.properties.get("cent_epoch", 0)) != int(
            self.cent.properties.get("epoch", 0)
        ) or self.vectors.num_buckets != nc:
            # epoch lag (crashed/aborted retrain) or bucket-layout lag (a
            # growing retrain crashed before its vectors rewrite) — one
            # roll-forward heals both
            self._reassign_all()
            ran = True
        return ran

    # --------------------------------------------------------------- ingest

    def add_batch(
        self,
        batch: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        stats: dict[str, Any] | None = None,
    ) -> int:
        """Assign + append one batch of vectors; returns rows ingested.

        O(batch): a bucket-pruned known-id anti-join (only the id-index
        files the batch's own ids hash into are opened), broadcast-
        centroid score of the new vectors only, one partial-agg argmax,
        one append commit per table (new files only)."""
        ran_recovery = self.recover()
        batch_seq = int(self.vectors.properties.get("batch_seq", 0)) + 1
        pins = self._pins()

        vecs = _rebalance(batch).select(
            F.col(id_col).cast("long").alias("id"), _to_double(vec_col).alias("v")
        )
        # idempotence: drop redelivered (or DELETED) ids via the id-bucketed
        # index — the scan opens only the lake buckets the BATCH's ids hash
        # into, never the whole corpus' id files (bucketed off the batch's
        # own scan: the rebalance shuffle is for the scoring below)
        ids_snap = self.ids.snapshot()
        known, batch_id_buckets = self._known_ids(
            batch.select(F.col(id_col).cast("long").alias("id"))
        )
        vecs = vecs.join(known, "id", "left_anti").localCheckpoint(eager=True)
        n = vecs.count()
        if stats is not None:
            stats.update(
                recovered=ran_recovery,
                ids_files_read=sum(
                    len(ids_snap.files.get(str(b), [])) for b in batch_id_buckets
                ),
                ids_files_total=sum(len(fl) for fl in ids_snap.files.values()),
                ids_lake_buckets_read=len(batch_id_buckets),
                ids_lake_buckets_total=self.ids.num_buckets,
            )
        if n == 0:
            # empty (or fully-redelivered) batch: commit NOTHING — in
            # particular never train centroids from it (an empty training
            # corpus would freeze trained=True with zero centroids and
            # poison every later ingest)
            if stats is not None:
                stats.update(n_new=0)
            return 0

        if not bool(self.cent.properties.get("trained")):
            self._train_from(vecs)
        cent_v = self.cent.version
        epoch = int(self.cent.properties.get("epoch", 0))

        out = self._score_against_centroids(vecs).select(
            "id", "v", "cluster", "cos_r",
            F.lit(batch_seq).cast("long").alias("batch_seq"),
            F.col("cluster").alias("bucket"),
        ).localCheckpoint(eager=True)
        # a retrain that committed while we were scoring would make these
        # assignments stale — refuse to publish them (the epoch stamp +
        # recover() heal the residual race between this check and the
        # commit below)
        if self.cent.version != cent_v:
            raise ConcurrentCommitError(
                "centroids advanced during batch scoring (concurrent retrain); "
                "re-run add_batch"
            )
        # cent_epoch is a table-level invariant ("ALL stored assignments
        # conform to epoch X"), so an append may never advance it past the
        # existing stamp: if older rows lag the centroid epoch (a retrain
        # raced us between the check above and this commit), stamping the
        # batch's epoch would mask the pending re-assignment recover()
        # owes the older rows. First batch of an empty table stamps freely.
        prev_epoch = int(self.vectors.properties.get("cent_epoch", 0))
        stamp = epoch if batch_seq == 1 else min(prev_epoch, epoch)
        self._append_batch(out, batch_seq, pins, cent_epoch=stamp)
        if stats is not None:
            stats.update(n_new=n, batch_seq=batch_seq)
        return n

    # ------------------------------------------------------------- takedown

    def _purge(self, targets: DataFrame) -> dict[str, int]:
        """Drop taken-down ids' vector rows: CoW of only the clusters that
        hold them. The locating scan reads just the (id, cluster) columns
        of the corpus — a vector's cluster is not derivable from its id,
        so a columnar scan is the honest cost of a TARGETED purge (retrain
        purges for free as a full rewrite). ``ids`` rows are retained as
        no-reingest memory."""
        hit = (
            self.vectors.read()
            .select("id", "cluster")
            .join(targets, "id", "left_semi")
            .select("cluster")
            .distinct()
        )
        clusters = sorted(int(r["cluster"]) for r in hit.collect())
        if not clusters:
            return {}
        self._rewrite_without(self.vectors, clusters, targets, F.col("cluster"))
        return dict(purged_ids=targets.count(), vector_buckets_rewritten=len(clusters))

    # ---------------------------------------------------------------- query

    def topk(
        self,
        query_ids: list[int] | None = None,
        k: int = 3,
        n_probe: int = 2,
        stats: dict[str, Any] | None = None,
        query_vectors: DataFrame | None = None,
    ) -> DataFrame:
        """Bucket-pruned probed top-k over the STORED corpus.

        Opens only the probed clusters' lake buckets — the candidate scan
        reads ``n_probe/n_centroids`` of the files however large the
        corpus. Output schema matches similarity.ivf_topk
        (query_id, neighbor_id, cos_r, rnk).

        Queries come from ``query_ids`` (stored vectors, the parity/gate
        path) or ``query_vectors`` (a (query_id, v) frame of RAW vectors
        — the serving path: embed-then-search without ingesting the
        query; self-matches aren't excluded since the query isn't in the
        corpus unless its id is)."""
        if (query_ids is None) == (query_vectors is None):
            raise ValueError("pass exactly one of query_ids / query_vectors")
        cent = self._centroids()
        if query_vectors is not None:
            q = query_vectors.select(
                F.col("query_id").cast("long").alias("query_id"),
                _to_double("v").alias("_qv"),
            )
        else:
            q = (
                self.vectors.read()
                .filter(F.col("id").isin([int(i) for i in query_ids]))
                .select(F.col("id").alias("query_id"), F.col("v").alias("_qv"))
            )
        # takedown mask: deleted vectors neither serve as queries nor
        # appear as neighbors (pre-purge their rows still exist in
        # `vectors`). An empty registry reads as an empty relation, so the
        # optimizer drops both anti-joins; a small non-empty one is a
        # parquet scan with size statistics, broadcast by the planner
        gone = self.deleted.read().select("id")
        q = q.join(gone.withColumnRenamed("id", "query_id"), "query_id", "left_anti")
        # |q| rows; referenced by both the probe subtree and the rescore
        # join — checkpoint so the corpus scan behind it runs once
        q = q.select(
            "query_id", "_qv", _norm("_qv").alias("_qn")
        ).localCheckpoint(eager=True)
        centn = cent.select("centroid_id", "_cv", _norm("_cv").alias("_cn"))
        qc = F.broadcast(q).join(centn).select(
            "query_id", "centroid_id",
            F.round(
                _cosine_n("_qv", "_cv", F.col("_qn"), F.col("_cn")), 4
            ).alias("ccos"),
        )
        wq = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("centroid_id"))
        # eager checkpoint: probed feeds BOTH the cluster collect below
        # (file pruning) and the candidate join — without it the
        # query x centroid score + window subtree executes twice per probe
        probed = (
            qc.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= n_probe)
            .select("query_id", F.col("centroid_id").alias("cluster"))
        ).localCheckpoint(eager=True)
        # driver collect of <= |q| * n_probe small ints -> file-level pruning
        clusters = sorted({int(r["cluster"]) for r in probed.collect()})
        snap_files = self.vectors.snapshot().files
        cand_src = self.vectors.read(buckets=clusters).select(
            "cluster", F.col("id").alias("neighbor_id"), F.col("v").alias("_nv")
        ).select(
            "cluster", "neighbor_id", "_nv", _norm("_nv").alias("_nn")
        ).join(
            gone.withColumnRenamed("id", "neighbor_id"), "neighbor_id", "left_anti"
        )
        scored = (
            probed.join(cand_src, "cluster")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id", "neighbor_id",
                F.round(
                    _cosine_n("_qv", "_nv", F.col("_qn"), F.col("_nn")), 4
                ).alias("cos_r"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cos_r"), F.asc("neighbor_id"))
        out = (
            scored.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= k)
        )
        if stats is not None:
            stats.update(
                probed_clusters=clusters,
                files_read=sum(len(snap_files.get(str(c), [])) for c in clusters),
                files_total=sum(len(fl) for fl in snap_files.values()),
            )
        return out

    # ----------------------------------------------------------- maintenance

    def retrain(self, iters: int = 2, n_centroids: int | None = None) -> None:
        """Offline rebuild: Lloyd-refine centroids over the stored corpus,
        re-assign every vector, and REWRITE the vectors table (full CoW —
        the periodic index rebuild, not the per-batch path).

        ``n_centroids``: GROW (or change) the index fanout. IVF wants
        ~sqrt(N) centroids, so a fixed creation-time fanout makes each
        probed cluster's absolute bytes grow linearly with the corpus
        even though the fraction stays n_probe/n_centroids. retrain is
        already a full CoW rewrite, so it is the natural (and free)
        place to re-bucket: the vectors table is recreated at the new
        ``num_buckets`` inside the same epoch-stamped commit, and a crash
        between the centroid commit and the vectors rewrite is healed by
        recover()'s reassign, which re-buckets as part of its
        roll-forward.

        Concurrency contract: intended to run in a maintenance window.
        An ingest racing it loses exactly one side's optimistic guard —
        either this retrain's vectors rewrite aborts
        (ConcurrentCommitError; the epoch mismatch it leaves behind is
        healed by recover(), which re-assigns against the NEW centroids,
        so the aborted retrain still converges) or the ingest's append
        aborts and retries against the retrained store. Never both
        publish, never a torn layout that stays torn."""
        from .similarity import ivf_refine_assign

        self.recover()
        nc = self.n_centroids if n_centroids is None else int(n_centroids)
        if nc < 1:
            raise ValueError(f"n_centroids must be >= 1, got {nc}")
        # takedowns are excluded from training AND physically dropped by
        # the reassign's full rewrite (retrain doubles as a full purge)
        corpus = self._live(self.vectors.read()).select("id", "v")
        assign = ivf_refine_assign(
            corpus, n_centroids=nc,
            id_col="id", vec_col="v", iters=iters,
        )
        # recover the refined centroid vectors: exact decimal means per
        # (cluster, dim), identical to ivf_refine_assign's final round
        comp = (
            assign.join(corpus, "id")
            .select("cluster", F.posexplode("v").alias("d", "x"))
            .groupBy("cluster", "d")
            .agg(
                F.sum(F.col("x").cast("decimal(25,15)")).alias("s"),
                F.count("*").alias("n"),
            )
            .select("cluster", "d", (F.col("s").cast("double") / F.col("n")).alias("m"))
        )
        cent = comp.groupBy("cluster").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("d", "m"))), lambda s: s["m"]
            ).alias("cv")
        ).select(F.col("cluster").cast("int").alias("centroid_id"), "cv")
        epoch = int(self.cent.properties.get("epoch", 0)) + 1
        self.cent.commit_rewrite(
            cent.withColumn("bucket", F.lit(0)), touched_buckets=[0],
            properties={"trained": True, "epoch": epoch, "retrained_iters": iters,
                        "n_centroids": nc},
            expected_version=self.cent.version,
        )
        self._reassign_all()
