"""Lake table format: atomic snapshots, bucket pruning, schema evolution."""

import os
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from embulk_input_mixpanel_spark.sources.lake import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def _with_bucket(df, nb):
    return df.withColumn("bucket", F.pmod(F.xxhash64("repo", "path"), F.lit(nb)).cast("int"))


def test_create_read_empty(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=4)
    assert t.exists()
    assert t.version == 0
    assert t.read().count() == 0
    assert t.read().schema == SCHEMA


def test_empty_reads_are_foldable_jvm_relations(spark, tmp_table_dir, jobs_of):
    """An empty table and empty buckets of a filled one read as a relation
    the optimizer folds: the table schema, zero rows, and no Spark job
    (no Python worker per task, no anti-join left to plan)."""
    schema = T.StructType([*SCHEMA.fields, T.StructField("op", T.StringType())])
    t = LakeTable.create(spark, tmp_table_dir, schema, num_buckets=8)

    def check(read):
        for tomb in (False, True):
            df = read(include_tombstones=tomb)
            assert df.schema == schema
            assert jobs_of(df.collect) == ([], 0)
            # an anti-join against it (the takedown mask's shape) is
            # planned away: one job, for the left side alone
            live = spark.range(3).withColumnRenamed("id", "v").join(df.select("v"), "v", "left_anti")
            assert jobs_of(lambda: len(live.collect())) == (3, 1)

    check(t.read)
    rows = _with_bucket(spark.createDataFrame([("r1", "a", 1, "U"), ("r2", "b", 2, "D")], schema), 8)
    filled = sorted(r[0] for r in rows.select("bucket").distinct().collect())
    t.commit_rewrite(rows, filled)
    vacant = [b for b in range(8) if b not in filled]
    check(lambda **kw: t.read(buckets=vacant, **kw))


def test_commit_and_time_travel(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=4)
    df1 = _with_bucket(spark.createDataFrame([("r1", "a", 1), ("r2", "b", 1)], SCHEMA), 4)
    touched = [r[0] for r in df1.select("bucket").distinct().collect()]
    t.commit_rewrite(df1, touched, properties={"hwm": {"0": 10}})
    assert t.version == 1
    assert t.read().count() == 2
    assert t.properties["hwm"] == {"0": 10}

    df2 = _with_bucket(spark.createDataFrame([("r1", "a", 2)], SCHEMA), 4)
    b = df2.select("bucket").first()[0]
    # new contents for bucket b = just this row (overwrites what was there)
    t.commit_rewrite(df2, [b], properties={"hwm": {"0": 20}})
    assert t.version == 2

    # time travel: v1 still readable and unchanged
    assert t.read(version=1).count() == 2
    assert {r["v"] for r in t.read(version=1).collect()} == {1}


def test_bucket_pruned_read_opens_only_touched_files(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=8)
    rows = [(f"r{i}", f"p{i}", i) for i in range(50)]
    df = _with_bucket(spark.createDataFrame(rows, SCHEMA), 8)
    touched = sorted(r[0] for r in df.select("bucket").distinct().collect())
    t.commit_rewrite(df, touched)
    snap = t.snapshot()
    some = [int(b) for b in list(snap.files)[:2]]
    pruned = t.read(buckets=some)
    full = t.read()
    assert 0 < pruned.count() < full.count()
    # pruned scan must reference strictly fewer files
    n_files_pruned = sum(len(snap.files[str(b)]) for b in some)
    assert n_files_pruned < len(snap.all_files())


def test_schema_evolution_old_files_read_null(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=2)
    df = _with_bucket(spark.createDataFrame([("r1", "a", 1)], SCHEMA), 2)
    b1 = df.select("bucket").first()[0]
    t.commit_rewrite(df, [b1])

    new_schema = t.evolve_schema([T.StructField("extra", T.StringType(), True)])
    df2 = spark.createDataFrame([("r9", "z", 2, "hello")], new_schema)
    df2 = _with_bucket(df2, 2)
    b2 = df2.select("bucket").first()[0]
    if b2 == b1:  # keep old file alive: write into the other bucket via key choice
        df2 = _with_bucket(
            spark.createDataFrame([("r8", "y", 2, "hello")], new_schema), 2
        )
        b2 = df2.select("bucket").first()[0]
    t.commit_rewrite(df2, [b2], schema=new_schema)

    out = t.read().orderBy("v").collect()
    assert [f.name for f in t.schema.fields][-1] == "extra"
    by_v = {r["v"]: r for r in out}
    assert by_v[1]["extra"] is None  # old file: evolved column reads NULL
    if 2 in by_v:
        assert by_v[2]["extra"] == "hello"


def test_point_lookup_prunes_to_one_bucket(spark, tmp_table_dir):
    """lookup() must agree with a full-scan filter while opening only the
    key's bucket files (the serving path of the bucket transform)."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=8)
    rows = [(f"r{i}", f"p{i}", i) for i in range(50)]
    df = _with_bucket(spark.createDataFrame(rows, SCHEMA), 8)
    touched = sorted(r[0] for r in df.select("bucket").distinct().collect())
    t.commit_rewrite(df, touched)

    got = t.lookup({"repo": "r7", "path": "p7"}).collect()
    assert [(r["repo"], r["path"], r["v"]) for r in got] == [("r7", "p7", 7)]
    # files opened = exactly the one bucket's files, strictly fewer than all
    snap = t.snapshot()
    opened = t.lookup({"repo": "r7", "path": "p7"}).inputFiles()
    assert 0 < len(opened) < len(snap.all_files())
    # a key that never existed: empty, still single-bucket
    assert t.lookup({"repo": "nope", "path": "nope"}).count() == 0


def test_commit_properties_only(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=2)
    v0_files = t.snapshot().files
    t.commit_properties({"cursor_seq": 99})
    assert t.version == 1
    assert t.properties["cursor_seq"] == 99
    assert t.snapshot().files == v0_files


def test_crash_before_pointer_swap_is_invisible(spark, tmp_table_dir):
    """Data staged but snapshot not swapped -> readers see old state."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=2)
    # simulate: stage data files manually without committing
    stage = os.path.join(tmp_table_dir, "data", "v00000001", "bucket=0")
    os.makedirs(stage)
    spark.createDataFrame([("rX", "pX", 9)], SCHEMA).write.mode("overwrite").parquet(stage)
    assert t.version == 0
    assert t.read().count() == 0


def test_history_rollback_and_expire(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=2)
    for i in range(1, 4):
        df = _with_bucket(spark.createDataFrame([(f"r{i}", "p", i)], SCHEMA), 2)
        touched = [r[0] for r in df.select("bucket").distinct().collect()]
        t.commit_rewrite(df, touched)
    assert [s.version for s in t.history()] == [0, 1, 2, 3]

    t.rollback(1)
    assert t.version == 4
    assert {r["v"] for r in t.read().collect()} == {1}  # state of v1
    assert t.properties["rolled_back_to"] == 1

    # v1's files must survive expiry because CURRENT (v4) references them
    removed = t.expire_snapshots(keep_last=2)
    versions_left = [s.version for s in t.history()]
    assert versions_left == [3, 4]
    assert {r["v"] for r in t.read().collect()} == {1}
    # something from the dropped-only lineage may be removed, never v1 data
    for f in t.snapshot().all_files():
        import os as _os

        assert _os.path.exists(_os.path.join(t.path, f))


def test_commit_append_leaves_existing_files_untouched(spark, tmp_table_dir):
    """Append-only commit: new files land in their buckets, every prior
    file survives verbatim (O(batch) append, never CoW of history), time
    travel still sees the pre-append state, and the optimistic guard
    rejects stale writers."""
    import pytest

    from embulk_input_mixpanel_spark.sources.lake import ConcurrentCommitError

    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=4)
    df1 = _with_bucket(spark.createDataFrame([("r1", "a", 1), ("r2", "b", 1)], SCHEMA), 4)
    t.commit_rewrite(df1, [r[0] for r in df1.select("bucket").distinct().collect()])
    files_v1 = {b: list(fl) for b, fl in t.snapshot().files.items()}

    df2 = _with_bucket(spark.createDataFrame([("r1", "a", 2), ("r3", "c", 1)], SCHEMA), 4)
    t.commit_append(df2, properties={"note": "batch2"})
    assert t.version == 2
    files_v2 = t.snapshot().files
    for b, fl in files_v1.items():
        assert set(fl) <= set(files_v2.get(b, [])), "append must not drop/rewrite files"
    # append = multiset add: the (r1, a) rows now both exist (immutable log)
    assert t.read().count() == 4
    assert t.read(version=1).count() == 2  # time travel unaffected
    assert t.properties["note"] == "batch2"
    with pytest.raises(ConcurrentCommitError):
        t.commit_append(df2, expected_version=1)


def _multiset(df):
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())


def test_compact_merges_small_files_physically(spark, tmp_table_dir):
    """N appends -> O(N) files per bucket; compact -> 1 file per bucket,
    contents preserved as a MULTISET (duplicates and tombstone-shaped rows
    survive verbatim — compaction is physical, semantics stay with
    readers), time travel intact, expire reclaims the small files."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=4)
    for i in range(5):
        df = _with_bucket(
            spark.createDataFrame(
                [("r1", "a", i), ("r2", "b", i), ("r1", "a", i)], SCHEMA
            ),
            4,
        )
        t.commit_append(df)
    before = _multiset(t.read())
    files_before = {b: len(fl) for b, fl in t.snapshot().files.items()}
    assert max(files_before.values()) >= 5

    snap, stats = t.compact(min_files=2)
    assert snap is not None and stats["buckets_skipped_concurrent"] == 0
    assert stats["files_in"] >= 10 and stats["files_out"] == stats["buckets_compacted"]
    files_after = {b: len(fl) for b, fl in t.snapshot().files.items()}
    assert all(n == 1 for n in files_after.values()), files_after
    assert _multiset(t.read()) == before
    assert _multiset(t.read(version=snap.version - 1)) == before  # time travel
    # second compact is a no-op (already 1 file/bucket)
    snap2, stats2 = t.compact(min_files=2)
    assert snap2 is None and stats2["buckets_compacted"] == 0
    # expire reclaims the superseded small files from disk
    removed = t.expire_snapshots(keep_last=1)
    assert removed
    assert _multiset(t.read()) == before


def test_compact_commutes_with_concurrent_append(spark, tmp_table_dir):
    """A batch appended BETWEEN staging and the commit critical section
    must survive: the swapped bucket keeps the racing file alongside the
    compacted one (append commutes with compaction — no retry needed)."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=2)
    for i in range(3):
        t.commit_append(
            _with_bucket(spark.createDataFrame([("r1", "a", i), ("r2", "b", i)], SCHEMA), 2)
        )
    racer = _with_bucket(spark.createDataFrame([("r1", "a", 99), ("r2", "b", 99)], SCHEMA), 2)
    expected = _multiset(t.read()) + _multiset(racer.drop("bucket"))

    snap, stats = t.compact(min_files=2, _post_stage_hook=lambda: t.commit_append(racer))
    assert snap is not None
    assert stats["buckets_compacted"] >= 1 and stats["buckets_skipped_concurrent"] == 0
    assert _multiset(t.read()) == expected


def test_compact_skips_bucket_rewritten_concurrently(spark, tmp_table_dir):
    """A CoW rewrite landing mid-compaction invalidates the staged file
    for that bucket: compact must SKIP it (never resurrect replaced
    data) and publish nothing if no bucket survived the check."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=1)
    for i in range(3):
        t.commit_append(_with_bucket(spark.createDataFrame([("r1", "a", i)], SCHEMA), 1))

    def rewrite_all():
        df = _with_bucket(spark.createDataFrame([("r1", "a", 777)], SCHEMA), 1)
        t.commit_rewrite(df, [0])

    snap, stats = t.compact(min_files=2, _post_stage_hook=rewrite_all)
    assert snap is None
    assert stats["buckets_skipped_concurrent"] == 1 and stats["buckets_compacted"] == 0
    assert _multiset(t.read()) == _multiset(
        spark.createDataFrame([("r1", "a", 777)], SCHEMA)
    )


def test_vacuum_orphans_reclaims_unreferenced_files_only(spark, tmp_table_dir):
    """Orphans (crashed/raced commit leftovers, skipped compaction stages)
    are deleted once past the grace window; every file referenced by ANY
    retained snapshot — and live files' .crc siblings — survive, and
    reads are unchanged. Young orphans are protected by the grace."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=2)
    for i in range(2):
        t.commit_append(
            _with_bucket(spark.createDataFrame([("r1", "a", i), ("r2", "b", i)], SCHEMA), 2)
        )
    before = _multiset(t.read())
    n_files_live = len(t.snapshot().all_files())

    # forge orphans: a skipped-compaction staging dir with a fake file
    orphan_dir = os.path.join(t.path, "data", "v00000099-deadbeef", "bucket=0")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-orphan.snappy.parquet")
    with open(orphan, "w") as fh:
        fh.write("junk")

    # young orphan is protected by the grace window
    assert t.vacuum_orphans(grace_seconds=3600) == []
    assert os.path.exists(orphan)
    # past the grace: reclaimed, empty dirs pruned, live files untouched
    # (write-marker files like _SUCCESS are unreferenced too — also fair game)
    removed = t.vacuum_orphans(grace_seconds=0)
    assert any(r.endswith("part-orphan.snappy.parquet") for r in removed)
    assert not any(r.endswith(".parquet") and "orphan" not in r for r in removed)
    assert not os.path.exists(os.path.dirname(orphan))
    assert len(t.snapshot().all_files()) == n_files_live
    assert _multiset(t.read()) == before
    # time travel to v1 still works (its files are retained by history)
    assert t.read(version=1).count() == 2


def test_vacuum_grace_protects_whole_inflight_staging_dir(spark, tmp_table_dir):
    """A slow commit stages files minutes apart into ONE attempt dir;
    vacuum must treat the DIRECTORY as the in-flight unit — an old file
    sitting next to a freshly-written sibling is part of a commit that
    may be about to swap, and deleting it would let the swapped snapshot
    reference a deleted file (corruption, not just lost staging)."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=2)
    t.commit_append(
        _with_bucket(spark.createDataFrame([("r1", "a", 1)], SCHEMA), 2)
    )

    stage = os.path.join(t.path, "data", "v00000099-cafecafe", "bucket=0")
    os.makedirs(stage)
    early = os.path.join(stage, "part-early.snappy.parquet")
    late = os.path.join(stage, "part-late.snappy.parquet")
    for p in (early, late):
        with open(p, "w") as fh:
            fh.write("junk")
    old = time.time() - 7200
    os.utime(early, (old, old))  # staged an hour+ ago; commit still running

    # the young sibling keeps the WHOLE attempt dir protected
    assert t.vacuum_orphans(grace_seconds=3600) == []
    assert os.path.exists(early) and os.path.exists(late)

    # once the dir is quiescent past the grace, both go
    os.utime(late, (old, old))
    removed = t.vacuum_orphans(grace_seconds=3600)
    assert sorted(os.path.basename(r) for r in removed) == [
        "part-early.snappy.parquet", "part-late.snappy.parquet",
    ]


def test_compact_max_records_per_file_bounds_output(spark, tmp_table_dir):
    """A mega-bucket compacts to SEVERAL bounded files, not one unbounded
    one (single-file buckets would serialize that bucket's scan)."""
    t = LakeTable.create(spark, tmp_table_dir, SCHEMA, num_buckets=1)
    for i in range(3):
        rows = [("r%d" % j, "p", i) for j in range(40)]
        t.commit_append(_with_bucket(spark.createDataFrame(rows, SCHEMA), 1))
    before = _multiset(t.read())
    snap, stats = t.compact(min_files=2, max_records_per_file=50)
    assert snap is not None
    files = t.snapshot().files["0"]
    assert len(files) >= 3, files  # 120 rows / 50 cap -> >= 3 files
    assert _multiset(t.read()) == before
