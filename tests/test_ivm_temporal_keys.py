"""Rollups whose leading group key is a date or a timestamp.

The refresh prunes view files by the delta's key range, which
``checkpoint_with_metrics`` observes in the delta's pin job; for a
temporal key those bounds must come back as Python ``date`` /
``datetime`` values rendered exactly like the view's file stats. A
refreshed view must equal a full recompute over the source snapshot.
"""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
    ivm,
    table_format as tf,
)

_KEYS = {
    "date": lambda i: datetime.date(2020, 1, 1) + datetime.timedelta(days=i % 9),
    "timestamp": lambda i: datetime.datetime(2020, 1, 1, 12)
    + datetime.timedelta(hours=i % 9, microseconds=250_000 * (i % 3)),
}


def _mk(spark, kind, lo, hi, seg):
    return spark.createDataFrame(
        [(i, _KEYS[kind](i), seg, i * 3) for i in range(lo, hi)],
        f"k long, t {kind}, seg string, val long",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("kind", sorted(_KEYS))
def test_temporal_keyed_rollup_refresh_equals_recompute(spark, tmp_path, kind):
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    tf.create_table(_mk(spark, kind, 0, 60, "A"), src, stat_cols=["k"])
    ivm.create_rollup(spark, src, view, keys=["t"], sum_cols=["val"])
    # a view of several files, so the delta's key range prunes some
    tf.optimize_cluster(spark, view, ["t"], target_files=3)
    tf.append(_mk(spark, kind, 60, 75, "B"), src)
    tf.merge_upsert(_mk(spark, kind, 0, 10, "M"), src, key_col="k",
                    mode="mor")
    tf.delete_where(spark, src, "k >= 70", prune_col="k", mode="mor")
    ivm.refresh_rollup(spark, view)
    want = tf.read_table(spark, src).groupBy("t").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("val").alias("sum_val")
    )
    assert _rows(ivm.read_rollup(spark, view)) == _rows(want)
