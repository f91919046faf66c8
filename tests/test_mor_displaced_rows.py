"""A MoR MERGE finds the rows its batch displaces on the driver
(``table_format._displaced_pairs``) for integer, string and date keys.
Those ``(file, pos)`` pairs are checked against the Spark semi-join the
driver path replaces, on the same commits: multi-row-group files, rows
an earlier deletion vector already masks, NULL keys on both sides, and a
batch that displaces every live row of a file. Float and timestamp keys,
whose driver-side equality is not Spark's, keep the Spark path.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
    table_format as tf,
)

_UNI = ["", "é", "ß", "☃", "\U0001F600", "Z", "a b"]

KEYS = {
    "long": lambda i: i * 3 - 700,
    "string": lambda i: _UNI[i] if i < len(_UNI) else f"k{i:04d}",
    "date": lambda i: datetime.date(1999, 12, 1) + datetime.timedelta(i),
}


def _frame(spark, ktype, rows):
    return spark.createDataFrame(rows, f"k {ktype}, seg string, n long")


def _snapshot(root):
    live, schema = tf.snapshot_files(root)
    return live, StructType.fromJson(schema)


def _spark_pairs(spark, root, batch):
    """The reference: the broadcast semi-join of the live rows with
    their parquet positions against the batch's keys."""
    live, st = _snapshot(root)
    rows = (
        tf.read_files(spark, root, live, st, with_meta=True)
        .join(F.broadcast(batch.select("k")), on="k", how="left_semi")
        .select("_file", "_pos").collect()
    )
    return {(r["_file"], r["_pos"]) for r in rows}


_DRIVER = tf._displaced_pairs


def _driver_pairs(root, batch):
    live, st = _snapshot(root)
    keys = pa.array(
        [r["k"] for r in batch.collect() if r["k"] is not None],
        to_arrow_type(st["k"].dataType),
    )
    files, pos = _DRIVER(root, live, "k", keys).columns
    return set(zip(files.to_pylist(), pos.to_pylist()))


def _rows(spark, root):
    return sorted(
        (r["k"] is None, r["k"], r["seg"], r["n"])
        for r in tf.read_table(spark, root).collect()
    )


@pytest.mark.parametrize("ktype", sorted(KEYS))
def test_driver_pairs_equal_spark_semi_join(spark, tmp_path, monkeypatch,
                                            ktype):
    key = KEYS[ktype]
    root = str(tmp_path / "t")
    calls = []
    monkeypatch.setattr(
        tf, "_displaced_pairs", lambda *a: calls.append(1) or _DRIVER(*a)
    )
    table = [(key(i), "A", i) for i in range(600)]
    table += [(None, "A", -i) for i in range(1, 5)]  # NULL keys in the table
    want = {r[0]: r for r in table if r[0] is not None}
    nulls = [r for r in table if r[0] is None]
    # small row groups: positions must count across a file's row groups
    spark.conf.set("parquet.block.size", "2048")
    try:
        tf.create_table(
            _frame(spark, ktype, table).repartitionByRange(3, "k"), root,
            stat_cols=["k"],
        )
    finally:
        spark.conf.unset("parquet.block.size")
    live, _st = _snapshot(root)
    assert max(
        pq.ParquetFile(os.path.join(root, a["path"])).num_row_groups
        for a in live
    ) > 1

    def step(seg, ks, n_null=0):
        rows = [(k, seg, 1000 + j) for j, k in enumerate(ks)]
        rows += [(None, seg, -100 - j) for j in range(n_null)]
        batch = _frame(spark, ktype, rows)
        pairs = _driver_pairs(root, batch)
        assert pairs == _spark_pairs(spark, root, batch), seg
        v = tf.merge_upsert(batch, root, key_col="k", mode="mor")
        for r in rows:
            if r[0] is None:
                nulls.append(r)
            else:
                want[r[0]] = r
        assert _rows(spark, root) == sorted(
            (r[0] is None, *r) for r in [*want.values(), *nulls]
        ), seg
        return pairs, v

    # every 7th key plus new keys
    first, _ = step("B", [key(i) for i in range(0, 600, 7)]
                    + [key(i) for i in range(900, 905)])
    assert len(first) == len(range(0, 600, 7))
    # keys whose older versions the first merge's DVs already mask, and
    # NULL-key rows in the batch
    ks = sorted(set(range(0, 600, 21)) | set(range(1, 600, 11)))
    second, _ = step("C", [key(i) for i in ks], n_null=2)
    assert len(second) == len(ks)
    # every live row of the first batch's files: those files are removed
    first_files = {a["path"]: a for a in _snapshot(root)[0]
                   if a["path"].startswith("data/v00000001-")}
    assert any("dv" in a for a in first_files.values())
    _, v3 = step("D", [r[0] for r in want.values() if r[1] == "B"])
    assert set(tf._read_commit(root, v3)["remove"]) == set(first_files)
    assert len(calls) == 3


FALLBACK = {
    "double": [(0.0, "A", 0), (1.5, "A", 1), (2.5, "A", 2), (4.0, "A", 3)],
    "timestamp": [
        (datetime.datetime(2020, 3, 8, h), "A", h) for h in range(0, 12, 3)
    ],
}


@pytest.mark.parametrize("ktype", sorted(FALLBACK))
def test_float_and_timestamp_keys_keep_the_spark_path(
    spark, tmp_path, monkeypatch, ktype
):
    def refuse(*_a):
        raise AssertionError("driver match used for a " + ktype + " key")

    monkeypatch.setattr(tf, "_displaced_pairs", refuse)
    table = FALLBACK[ktype]
    root = str(tmp_path / "t")
    tf.create_table(_frame(spark, ktype, table).repartition(2), root,
                    stat_cols=["k"])
    if ktype == "double":  # Spark's key equality: -0.0 = 0.0
        batch = [(-0.0, "B", 10), (2.5, "B", 11), (9.0, "B", 12)]
    else:
        batch = [(table[1][0], "B", 10),
                 (datetime.datetime(2020, 3, 8, 23), "B", 11)]
    tf.merge_upsert(_frame(spark, ktype, batch), root, key_col="k",
                    mode="mor")
    want = {r[0]: r for r in table}
    want.update({r[0]: r for r in batch})
    assert _rows(spark, root) == sorted((False, *r) for r in want.values())


@pytest.mark.parametrize(
    "ktype,rows,shown",
    [("string", [("é", "A", 1), ("x", "A", 2), ("é", "B", 3)], "'é'"),
     ("date", [(datetime.date(2020, 1, 2), "A", 1)] * 2,
      "datetime.date(2020, 1, 2)"),
     ("double", [(1.5, "A", 1), (1.5, "B", 2)], "1.5")],
)
def test_duplicate_source_key_message(spark, tmp_path, ktype, rows, shown):
    """The driver-side count (string, date) and the grouped Spark count
    (double) reject a duplicate key with the same message."""
    root = str(tmp_path / "t")
    tf.create_table(_frame(spark, ktype, rows[:1]), root, stat_cols=["k"])
    with pytest.raises(ValueError) as err:
        tf.merge_upsert(_frame(spark, ktype, rows), root, key_col="k",
                        mode="mor")
    assert str(err.value) == (
        f"updates batch has multiple rows for k={shown}; MERGE requires "
        "unique source keys (dedupe the batch first)"
    )
