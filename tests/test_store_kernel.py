"""The store kernel shared by IncrementalDeduper and IncrementalANN: the
any-lag roll-forward on every follower table, and metadata-only
properties commits."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from embulk_input_mixpanel_spark.operators.incremental_ann import IncrementalANN
from embulk_input_mixpanel_spark.operators.incremental_dedup import (
    _BUCKET_SCHEMA,
    IncrementalDeduper,
)
from embulk_input_mixpanel_spark.sources.lake import LakeTable

from .test_incremental_ann import emb  # noqa: F401  (fixture)
from .test_incremental_dedup import docs  # noqa: F401  (fixture)


def _staged_dirs_without_parquet(table_path):
    data = os.path.join(table_path, "data")
    out = []
    for entry in sorted(os.listdir(data)):
        files = [f for _, _, fs in os.walk(os.path.join(data, entry)) for f in fs]
        if not any(f.endswith(".parquet") for f in files):
            out.append(entry)
    return out


def test_band_index_rolls_forward_any_lag(spark, docs, tmp_table_dir):
    """The band index heals a lag of several batches the same way ANN's id
    index does: rebuilt from the stored sigs rows, each row keeping its
    original batch_seq, with no duplicate index rows."""
    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    for m in range(3):
        dd.add_batch(docs.filter(f"doc_id < 300 and doc_id % 3 = {m}"))
    before = dd.buckets.read().groupBy("batch_seq").count().collect()

    buckets_path = os.path.join(dd.path, "buckets")
    shutil.rmtree(buckets_path)
    LakeTable.create(spark, buckets_path, _BUCKET_SCHEMA, num_buckets=32,
                     properties={"batch_seq": 0})

    dd2 = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    assert dd2.recover() is True
    assert int(dd2.buckets.properties["batch_seq"]) == 3
    idx = dd2.buckets.read()
    assert sorted(idx.groupBy("batch_seq").count().collect()) == sorted(before)
    assert idx.count() == idx.select("band", "bk", "id").distinct().count()
    assert dd2.recover() is False

    # a clone of a doc from the FIRST batch is found through the rebuilt index
    clone = docs.filter("doc_id = 0").select(
        (F.col("doc_id") + 900_000).alias("doc_id"), "text"
    )
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dd2.add_batch(clone).collect()}
    assert pairs[(0, 900_000)] == 1.0


def test_follower_ahead_of_leader_raises(spark, tmp_table_dir):
    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    dd.buckets.commit_properties({"batch_seq": 1})
    with pytest.raises(RuntimeError, match="ahead of"):
        dd.recover()


def test_purge_watermark_commit_writes_no_files(spark, docs, emb, tmp_table_dir, tmp_path):
    """Advancing purged_seq (and stamping an enabled df-cap) is a
    properties-only commit: it stages no data directory."""
    dd = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8, threshold=0.85)
    dd.add_batch(docs.filter("doc_id < 50"))
    dd.delete([0, 1])
    dd.purge_deleted()
    assert int(dd.deleted.properties["purged_seq"]) == 1
    assert _staged_dirs_without_parquet(dd.deleted.path) == []

    capped = IncrementalDeduper(spark, tmp_table_dir, k=24, n_bands=8,
                                threshold=0.85, max_shingle_docs=100)
    assert capped.sigs.properties["max_shingle_docs"] == 100
    assert _staged_dirs_without_parquet(capped.sigs.path) == []

    ann = IncrementalANN(spark, str(tmp_path / "ann"), n_centroids=4)
    ann.add_batch(emb.filter("vec_id < 40"))
    ann.delete([0])
    ann.purge_deleted()
    assert int(ann.deleted.properties["purged_seq"]) == 1
    assert _staged_dirs_without_parquet(ann.deleted.path) == []
