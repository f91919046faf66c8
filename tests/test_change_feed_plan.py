"""One change-feed plan, two executors (operators/table_format.py).

``_change_units`` plans the feed of a version range once; ``table_changes``
runs the plan with Spark and ``_read_change_unit`` runs it with Arrow,
one unit at a time (the streaming CDF source and the rollup driver
fold). The oracles here are ``table_diff`` and snapshot differences,
which share no code with either executor.

* A bloom-index commit re-adds the same files: its feed is empty, it is
  not a rewrite, and rollups refreshed across it equal a recompute.
* Merge-on-read commits are file-local: a row written back unchanged is
  one deleted and one inserted row from both executors, whether the
  displaced file was removed whole or masked.
* Differential: over every range of one seeded chain the two executors
  agree; where the plan holds a rewrite pair the Arrow executor raises
  and the Spark feed still equals the snapshot difference.
"""

from __future__ import annotations

import functools
import random
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pytest

from pyspark.sql import DataFrame, Row, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
    bloom_index as bloom,
    ivm,
    table_format as tf,
)

from .test_mor_deletion_vectors import _jobs


def _names(root, version):
    return StructType.fromJson(tf.snapshot_files(root, version)[1]).names


def _spark_feed(df, names):
    return Counter(
        (*(r[c] for c in names), r["_change_type"], r["_commit_version"])
        for r in df.collect()
    )


def _arrow_feed(root, v_from, v_to):
    """The Arrow executor's feed of (v_from, v_to]: every unit read
    alone and tagged like ``table_changes`` rows."""
    schema = to_arrow_schema(
        StructType.fromJson(tf.snapshot_files(root, v_to)[1]))
    out = Counter()
    for u in tf._file_local(tf._change_units(root, v_from, v_to)):
        change = "deleted" if u.deleted else "inserted"
        for row in tf._read_change_unit(u, schema).to_pylist():
            out[(*row.values(), change, u.version)] += 1
    return out


def _signed(feed):
    """A feed as a signed multiset of rows: inserted +1, deleted -1."""
    out = Counter()
    for (*row, change, _v), n in feed.items():
        out[tuple(row)] += n if change == "inserted" else -n
    return {r: n for r, n in out.items() if n}


def _diff_signed(spark, root, v_old, v_new):
    names, out = _names(root, v_new), Counter()
    for r in tf.table_diff(spark, root, v_old, v_new).collect():
        row = tuple(r[c] for c in names)
        out[row] += 1 if r["change_type"] == "inserted" else -1
    return {r: n for r, n in out.items() if n}


def _src(spark, root, n=11):
    tf.create_table(
        spark.createDataFrame(
            [Row(k=i, g=i % 3, x=float(i), n=i * 10) for i in range(n)],
            "k long, g long, x double, n long",
        ).repartitionByRange(2, "k"),
        root, stat_cols=["k"],
    )


def test_index_commit_has_empty_feed_and_rollups_stay_exact(spark, tmp_path):
    src = str(tmp_path / "src")
    _src(spark, src)
    views = {
        "float_sum": dict(keys=["g"], sum_cols=["x"]),
        "minmax": dict(keys=["g"], sum_cols=["n"], minmax_cols=["x"]),
        "integral": dict(keys=["g"], sum_cols=["n"]),
    }
    for name, opts in views.items():
        ivm.create_rollup(spark, src, str(tmp_path / name), **opts)
    v = bloom.create_bloom_index(spark, src, "k")
    assert tf._read_commit(src, v)["action"] == "index"
    feed = None

    def changes():
        nonlocal feed
        feed = tf.table_changes(spark, src, v - 1, v)
        return feed.collect()

    assert _jobs(spark, "index-feed", changes) == 0
    assert feed.collect() == []
    assert tf._change_units(src, v - 1, v) == []
    for name, opts in views.items():
        view = str(tmp_path / name)
        jobs = _jobs(spark, f"index-refresh-{name}",
                     lambda view=view: ivm.refresh_rollup(spark, view))
        if name == "integral":
            assert jobs == 0, jobs  # the driver fold took the range
        want = ivm._rollup_frame(tf.read_table(spark, src), opts["keys"],
                                 opts["sum_cols"], opts.get("minmax_cols"))
        assert sorted(map(tuple, tf.read_table(spark, view).collect())) == (
            sorted(map(tuple, want.collect()))
        ), name


def test_restore_across_index_commit_is_file_local(spark, tmp_path):
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    _src(spark, src, n=20)
    ivm.create_rollup(spark, src, view, keys=["g"], sum_cols=["n"])
    first = min(tf.snapshot_files(src, 0)[0], key=lambda a: a["stats"]["k"][0])
    hi = first["stats"]["k"][1]
    # a MoR delete that masks every row of the first file removes it
    v1 = tf.delete_where(spark, src, f"k <= {hi}", prune_col="k", mode="mor")
    assert first["path"] in tf._read_commit(src, v1)["remove"]
    tf.append(spark.createDataFrame(
        [Row(k=100 + i, g=i % 3, x=0.5, n=i) for i in range(4)],
        "k long, g long, x double, n long",
    ), src)
    bloom.create_bloom_index(spark, src, "k")
    v = tf.restore_table(src, 0)
    names = _names(src, v)
    kinds = Counter(u.kind for u in tf._change_units(src, 0, v))
    assert kinds["rewrite"] == 0, kinds
    for v_from in (0, v - 1):
        want = _diff_signed(spark, src, v_from, v)
        spark_feed = _spark_feed(tf.table_changes(spark, src, v_from, v),
                                 names)
        assert spark_feed == _arrow_feed(src, v_from, v)
        assert _signed(spark_feed) == want
    assert _jobs(spark, "restore-refresh",
                 lambda: ivm.refresh_rollup(spark, view)) == 0
    want = ivm._rollup_frame(tf.read_table(spark, src), ["g"], ["n"])
    assert sorted(map(tuple, tf.read_table(spark, view).collect())) == (
        sorted(map(tuple, want.collect()))
    )


@pytest.mark.parametrize("displaced", ["removed", "masked"])
def test_identical_mor_reupsert_is_one_delete_and_one_insert(
    spark, tmp_path, displaced
):
    root = str(tmp_path / "t")
    _src(spark, root, n=20)
    first = min(tf.snapshot_files(root, 0)[0],
                key=lambda a: a["stats"]["k"][0])
    lo, hi = first["stats"]["k"]
    keys = range(lo, hi + 1) if displaced == "removed" else range(lo, lo + 2)
    same = [Row(k=i, g=i % 3, x=float(i), n=i * 10) for i in keys]
    v = tf.merge_upsert(spark.createDataFrame(same, "k long, g long, "
                                              "x double, n long"),
                        root, key_col="k", mode="mor")
    rec = tf._read_commit(root, v)
    assert bool(rec.get("remove")) == (displaced == "removed")
    names = _names(root, v)
    spark_feed = _spark_feed(tf.table_changes(spark, root, 0, v), names)
    assert spark_feed == _arrow_feed(root, 0, v)
    assert spark_feed == Counter(
        {(*r, c, v): 1 for r in map(tuple, same)
         for c in ("inserted", "deleted")}
    )
    assert _signed(spark_feed) == _diff_signed(spark, root, 0, v) == {}


def test_executors_agree_over_every_range_of_a_seeded_chain(spark, tmp_path):
    """Every (v_from, v_to] of one chain: an append with a widened
    column, MoR merge/delete/update, compact_small, optimize_cluster, a
    bloom index, restores back and forth and a copy-on-write delete.
    Where the plan is file-local both executors give the same tagged
    feed; where it holds a rewrite pair the Arrow executor raises. On
    every range the Spark feed is the difference of the two snapshots
    as a signed multiset, which is what ``table_diff`` returns. A view
    refresh commit is a rewrite pair too."""
    rng = random.Random(7)
    root, view = str(tmp_path / "t"), str(tmp_path / "view")
    ddl = "k long, seg string, val double"
    wide = ddl + ", note string"

    def rows(ks, seg, schema=wide):
        extra = (f"n{seg}",) if schema == wide else ()
        return spark.createDataFrame(
            [(k, seg, float(rng.randrange(100)), *extra) for k in ks], schema
        )

    tf.create_table(rows(range(60), "A", ddl).repartitionByRange(3, "k"),
                    root, stat_cols=["k"])                              # v0
    tf.append(rows(range(100, 112), "B"), root)                         # v1
    tf.merge_upsert(rows(rng.sample(range(112), 6) + [200, 201], "M"),
                    root, key_col="k", mode="mor")                      # v2
    tf.delete_where(spark, root, "k >= 20 AND k < 40", prune_col="k",
                    mode="mor")                                         # v3
    tf.update_where(spark, root, "k IN (3, 45, 104)",
                    {"val": "val + 1000"}, prune_col="k", mode="mor")   # v4
    tf.compact_small(spark, root)                                       # v5
    tf.optimize_cluster(spark, root, ["k"], target_files=2)             # v6
    bloom.create_bloom_index(spark, root, "k")                          # v7
    tf.merge_upsert(rows([5, 6, 300], "N"), root, key_col="k",
                    mode="mor")                                         # v8
    tf.restore_table(root, 7)  # back across the merge alone: v9
    tf.restore_table(root, 3)  # back across compact and cluster: v10
    tf.restore_table(root, 8)  # forward again: v11
    tf.delete_where(spark, root, "k < 10", prune_col="k")  # cow: v12
    head = tf.latest_version(root)
    assert [tf._read_commit(root, v)["action"] for v in range(head + 1)] == [
        "create", "append", "merge", "delete", "update", "compact",
        "cluster", "index", "merge", "restore", "restore", "restore",
        "delete",
    ]
    names = _names(root, head)

    def snapshot(v):
        df = tf.read_table(spark, root, version=v)
        return df.select(F.lit(v).alias("_v"), *(
            c if c in df.columns else F.lit(None).cast("string").alias(c)
            for c in names
        ))

    snaps = {v: Counter() for v in range(head + 1)}
    for r in functools.reduce(
        DataFrame.unionByName, map(snapshot, range(head + 1))
    ).collect():
        snaps[r["_v"]][tuple(r[c] for c in names)] += 1
    ranges = [(a, b) for b in range(1, head + 1) for a in range(b)]
    # one Spark feed per range; the jobs are small, so run four at once
    with ThreadPoolExecutor(4) as pool:
        feeds = dict(zip(ranges, pool.map(
            lambda ab: _spark_feed(tf.table_changes(spark, root, *ab), names),
            ranges,
        )))
    file_local = 0
    for a, b in ranges:
        diff = snaps[b].copy()
        diff.subtract(snaps[a])
        assert _signed(feeds[a, b]) == {r: n for r, n in diff.items() if n}, (
            a, b)
        if any(u.kind == "rewrite" for u in tf._change_units(root, a, b)):
            with pytest.raises(ValueError, match="copy-on-write|rewrite"):
                _arrow_feed(root, a, b)
        else:
            assert _arrow_feed(root, a, b) == feeds[a, b], (a, b)
            file_local += 1
    # layout commits, the index and a restore across one MoR merge plan
    # no pair; the later restores cross rewrites and v12 is copy-on-write
    assert file_local == sum(b <= 9 for _a, b in ranges), file_local
    with pytest.raises(ValueError, match="copy-on-write delete"):
        _arrow_feed(root, head - 1, head)

    ivm.create_rollup(spark, root, view, keys=["seg"], sum_cols=["val"])
    tf.merge_upsert(rows([7, 400], "P"), root, key_col="k", mode="mor")
    v = ivm.refresh_rollup(spark, view)
    assert [u.kind for u in tf._change_units(view, 0, v)] == ["rewrite"]
    with pytest.raises(ValueError, match="view maintenance rewrite"):
        _arrow_feed(view, 0, v)
    view_names = _names(view, v)
    assert _signed(_spark_feed(tf.table_changes(spark, view, 0, v),
                               view_names)) == _diff_signed(spark, view, 0, v)
