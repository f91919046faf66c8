"""Merge-on-read deletion vectors (operators/table_format.py): the
driver-side sidecar read/diff/write path against independent oracles.

* The change feed's DV diff is checked against ``table_diff``, which
  compares whole snapshots and shares no DV-diff code with
  ``table_changes``, over a chain of mor merge/delete/update commits that
  includes a sidecar shared by two files and later superseded for one
  of them.
* Above 10,000 distinct keys MERGE's bounded key collect falls back to
  a full duplicate query and to the key-range hull for pruning.
* Spark jobs per MoR operation are bounded, since at these sizes the
  per-job cost is the latency: a MoR merge, a string-keyed lakehouse
  step (merge, rollup refresh, compaction) and the change feed over
  layout-only commits.
"""

from __future__ import annotations

from collections import Counter

import pytest

from pyspark.sql import Row, functions as F

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
    table_format as tf,
)


def _mk(spark, lo, hi, seg="A"):
    return spark.createDataFrame(
        [Row(k=i, seg=seg, val=float(i)) for i in range(lo, hi)]
    )


def _feed_rows(df, type_col):
    names = [c for c in df.columns if c not in (type_col, "_commit_version")]
    return Counter(
        (*(r[c] for c in names), r[type_col]) for r in df.collect()
    )


def _sidecars(root, version):
    return {
        a["path"]: a["dv"]["sidecar"]
        for a in tf.snapshot_files(root, version)[0]
        if "dv" in a
    }


def test_table_changes_equals_table_diff_over_mor_chain(spark, tmp_path):
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 200).repartitionByRange(4, "k"), root,
                    stat_cols=["k"])
    files = sorted(tf.snapshot_files(root, 0)[0],
                   key=lambda a: a["stats"]["k"][0])
    lo = [a["stats"]["k"][0] for a in files]  # first key of each file
    # 1: mor merge touching files 0 and 1 -> ONE sidecar shared by both
    v1 = tf.merge_upsert(
        spark.createDataFrame([Row(k=lo[0] + 1, seg="M", val=-1.0),
                               Row(k=lo[1] + 1, seg="M", val=-2.0),
                               Row(k=1000, seg="M", val=-3.0)]),
        root, key_col="k", mode="mor",
    )
    shared = _sidecars(root, v1)
    assert len(shared) == 2 and len(set(shared.values())) == 1
    # 2: mor delete in file 0 only -> supersedes the shared sidecar for
    #    file 0, file 1 keeps pointing at it
    v2 = tf.delete_where(spark, root, f"k IN ({lo[0] + 2}, {lo[0] + 3})",
                         prune_col="k", mode="mor")
    after = _sidecars(root, v2)
    f0, f1 = files[0]["path"], files[1]["path"]
    assert after[f0] != shared[f0] and after[f1] == shared[f1]
    # 3: mor update in files 1 and 2: file 1 leaves the shared sidecar
    v3 = tf.update_where(
        spark, root, f"k IN ({lo[1] + 4}, {lo[2] + 4})",
        {"val": "val + 1000", "seg": "'U'"}, prune_col="k", mode="mor",
    )
    assert _sidecars(root, v3)[f1] != shared[f1]
    # 4: mor merge re-displacing a row the first merge wrote, plus rows
    #    of a file with a prior DV
    v4 = tf.merge_upsert(
        spark.createDataFrame([Row(k=1000, seg="N", val=-4.0),
                               Row(k=lo[0] + 5, seg="N", val=-5.0),
                               Row(k=lo[3] + 6, seg="N", val=-6.0)]),
        root, key_col="k", mode="mor",
    )
    # 5: mor delete emptying file 3 outright (removed, not DV'd)
    v5 = tf.delete_where(spark, root, f"k >= {lo[3]} AND k < 1000",
                         prune_col="k", mode="mor")
    assert files[3]["path"] not in {
        a["path"] for a in tf.snapshot_files(root, v5)[0]
    }
    assert [v1, v2, v3, v4, v5] == [1, 2, 3, 4, 5]
    for v in range(1, v5 + 1):
        changes = _feed_rows(tf.table_changes(spark, root, v - 1, v),
                             "_change_type")
        diff = _feed_rows(tf.table_diff(spark, root, v - 1, v), "change_type")
        assert changes == diff, f"version {v}"
        assert changes  # every commit in the chain changed some row


def test_merge_large_batch_uses_hull_and_still_rejects_duplicates(
    spark, tmp_path
):
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 100), root, stat_cols=["k"])
    big = spark.range(50, 10_550).select(
        F.col("id").alias("k"), F.lit("B").alias("seg"),
        F.col("id").cast("double").alias("val"),
    )
    tf.merge_upsert(big, root, key_col="k", mode="mor")
    r = tf.read_table(spark, root).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("seg") == "B", 1)).alias("b"),
    ).first()
    assert (r["n"], r["b"]) == (10_550, 10_500)
    # Duplicate a key the bounded 10,001-group collect does not return,
    # so only the full duplicate query can find it. The probe batch has
    # the duplicate batch's partitions and is pinned like MERGE pins
    # it, so its grouped output comes in the same order.
    probe = big.unionByName(big.filter(F.col("k") < 0)).localCheckpoint()
    seen = {
        row["k"]
        for row in probe.groupBy("k").agg(F.count(F.lit(1)).alias("_n"))
        .limit(10_001).collect()
    }
    hidden = min(set(range(50, 10_550)) - seen)
    dup = big.unionByName(big.filter(F.col("k") == hidden))
    with pytest.raises(ValueError, match="unique source keys"):
        tf.merge_upsert(dup, root, key_col="k", mode="mor")


def test_merge_large_batch_date_key_bounds(spark, tmp_path):
    """Past 10,000 keys the [lo, hi] hull prunes; for a date key the
    bounds must be Python dates rendered like the file stats."""
    root = str(tmp_path / "t")
    days = spark.range(0, 200).select(
        F.date_add(F.lit("2000-01-01").cast("date"), F.col("id").cast("int"))
        .alias("d"),
        F.lit("A").alias("seg"),
    )
    tf.create_table(days.repartitionByRange(2, "d"), root, stat_cols=["d"])
    batch = spark.range(100, 10_300).select(
        F.date_add(F.lit("2000-01-01").cast("date"), F.col("id").cast("int"))
        .alias("d"),
        F.lit("B").alias("seg"),
    )
    tf.merge_upsert(batch, root, key_col="d", mode="mor")
    got = {
        r["seg"]: r["n"]
        for r in tf.read_table(spark, root).groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == {"A": 100, "B": 10_200}


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_mor_merge_and_change_feed_job_counts(spark, tmp_path):
    """One MoR MERGE into files that already carry deletion vectors,
    and the change feed over that commit, stay within their Spark job
    budgets: the sidecars are read, diffed and written on the driver."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 1000).repartitionByRange(4, "k"), root,
                    stat_cols=["k"])

    def batch(seg, ks):
        return spark.createDataFrame(
            [Row(k=k, seg=seg, val=float(k)) for k in ks]
        )

    tf.merge_upsert(batch("P", range(0, 1000, 7)), root, key_col="k",
                    mode="mor")
    updates = batch("Q", list(range(3, 1000, 11)) + [5000])
    v = None

    def merge():
        nonlocal v
        v = tf.merge_upsert(updates, root, key_col="k", mode="mor")

    merge_jobs = _jobs(spark, "mor-merge", merge)
    assert any("dv" in a for a in tf.snapshot_files(root, v)[0])
    feed_jobs = _jobs(
        spark, "mor-feed",
        lambda: tf.table_changes(spark, root, v - 1, v).collect(),
    )
    # before the sidecars moved to the driver: 17 and 7 jobs
    assert 0 < merge_jobs <= 7, merge_jobs
    assert 0 < feed_jobs <= 2, feed_jobs


def _string_keyed(spark, seg, ks):
    return spark.createDataFrame(
        [(f"r{k:05d}", f"b{k % 13:02d}", seg, (k + len(seg)) % 5)
         for k in ks],
        "rid string, biz string, seg string, stars long",
    )


def test_string_keyed_step_job_counts(spark, tmp_path):
    """A lakehouse step over string-keyed tables (a MoR merge, the
    rollup refresh and a compaction) takes its stats from the parquet
    footers, not from a Spark aggregate over the new files; a refresh
    that folds a compaction commit reads none of its files."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
        ivm,
    )

    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    tf.create_table(
        _string_keyed(spark, "A", range(1000)).repartitionByRange(4, "rid"),
        src, stat_cols=["rid"],
    )
    ivm.create_rollup(spark, src, view, keys=["biz"], sum_cols=["stars"])
    tf.merge_upsert(_string_keyed(spark, "PP", range(0, 1000, 7)), src,
                    key_col="rid", mode="mor")
    ivm.refresh_rollup(spark, view)

    def merge(seg, ks):
        return lambda: tf.merge_upsert(_string_keyed(spark, seg, ks), src,
                                       key_col="rid", mode="mor")

    def refresh():
        ivm.refresh_rollup(spark, view)

    merge_jobs = _jobs(spark, "str-merge", merge("Q", range(5, 1000, 13)))
    refresh_jobs = _jobs(spark, "str-refresh", refresh)
    compact_jobs = _jobs(
        spark, "str-compact", lambda: tf.compact_small(spark, src)
    )
    assert tf._read_commit(src, tf.latest_version(src))["action"] == "compact"
    merge("R", range(3, 1000, 11))()
    folded_jobs = _jobs(spark, "str-refresh-compact", refresh)
    # with the stats aggregate every string-keyed write paid: 9, 8, 4
    assert 0 < merge_jobs <= 7, merge_jobs
    assert 0 < refresh_jobs <= 6, refresh_jobs
    assert 0 < compact_jobs <= 2, compact_jobs
    assert 0 < folded_jobs <= refresh_jobs, (folded_jobs, refresh_jobs)
    want = tf.read_table(spark, src).groupBy("biz").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("stars").alias("sum_stars")
    )
    assert sorted(map(tuple, ivm.read_rollup(spark, view).collect())) == (
        sorted(map(tuple, want.collect()))
    )


def test_string_keyed_merge_into_dv_files_runs_three_jobs(spark, tmp_path):
    """A string-keyed MoR merge into files that carry deletion vectors
    runs the batch pin, one collect of the batch's key column and the
    batch write; the duplicate check and the displaced rows are worked
    out on the driver."""
    src = str(tmp_path / "src")
    tf.create_table(
        _string_keyed(spark, "A", range(1000)).repartitionByRange(4, "rid"),
        src, stat_cols=["rid"],
    )
    tf.merge_upsert(_string_keyed(spark, "PP", range(0, 1000, 7)), src,
                    key_col="rid", mode="mor")
    merged = set(range(5, 1000, 13))
    merge_jobs = _jobs(
        spark, "str-merge-driver",
        lambda: tf.merge_upsert(_string_keyed(spark, "Q", sorted(merged)),
                                src, key_col="rid", mode="mor"),
    )
    head = tf.snapshot_files(src)[0]
    assert sum("dv" in a for a in head) >= 4
    # with the grouped key collect and the Spark semi-join: 7
    assert 0 < merge_jobs <= 3, merge_jobs
    got = {r["rid"]: r["seg"] for r in tf.read_table(spark, src).collect()}
    assert got == {
        f"r{k:05d}": "Q" if k in merged else "PP" if k % 7 == 0 else "A"
        for k in range(1000)
    }


def test_change_feed_over_layout_only_commits_is_empty(spark, tmp_path):
    """A range of compaction and clustering commits has an empty change
    feed with the feed's schema, planned without reading any file."""
    root = str(tmp_path / "t")
    tf.create_table(
        _string_keyed(spark, "A", range(500)).repartition(4), root,
        stat_cols=["rid"],
    )
    tf.delete_where(spark, root, "rid < 'r00100'", prune_col="rid",
                    mode="mor")
    v0 = tf.latest_version(root)
    tf.compact(spark, root)
    tf.optimize_cluster(spark, root, ["rid"], target_files=2)
    feed = None

    def changes():
        nonlocal feed
        feed = tf.table_changes(spark, root, v0, v0 + 2)
        return feed.collect()

    assert _jobs(spark, "layout-feed", changes) == 0
    assert feed.collect() == []
    assert feed.schema.simpleString() == (
        "struct<rid:string,biz:string,seg:string,stars:bigint,"
        "_change_type:string,_commit_version:bigint>"
    )
