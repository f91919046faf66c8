"""r15: checkpoint_with_metrics (operators/_obs.py) — the one-job
pin+probe used by the BFS/Bellman-Ford rounds and the IVM refresh.

The second test is the regression that forced the design: the
pyspark.sql.Observation variant registered a session-level
ObservationManager reference that made every SUBSEQUENT streaming
query's task closure unserializable (bench r15 run 1 lost
score_stream to `NotSerializableException: ObservationManager`).
"""

from __future__ import annotations

import datetime
import tempfile
import time

from pyspark.sql import functions as F

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators._obs import (
    checkpoint_with_metrics,
)


def test_metrics_match_frame(spark):
    df = spark.range(100).filter("id % 7 = 0").withColumn(
        "flag", F.col("id") % 2 == 0
    )
    ck, m = checkpoint_with_metrics(
        df,
        "probe",
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("flag"), 1)).alias("n_flag"),
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
    )
    rows = ck.collect()
    assert m["n"] == len(rows) == 15
    assert m["n_flag"] == sum(1 for r in rows if r["flag"])
    assert m["lo"] == 0 and m["hi"] == 98
    # the checkpointed frame is lineage-truncated (LogicalRDD)
    assert "LogicalRDD" in ck._jdf.queryExecution().analyzed().toString()


def test_empty_frame_metrics(spark):
    ck, m = checkpoint_with_metrics(
        spark.range(10).filter("id > 99"),
        "probe",
        F.count(F.lit(1)).alias("n"),
        F.min("id").alias("lo"),
    )
    assert m["n"] == 0
    assert m["lo"] is None
    assert ck.count() == 0


def test_streaming_survives_observed_checkpoints(spark):
    """A rate-source stream must stay serializable AFTER batch
    queries have used observed checkpoints in the same session —
    the Observation-object variant broke exactly this."""
    for _ in range(3):
        checkpoint_with_metrics(
            spark.range(1000).filter("id % 3 = 0"),
            "probe",
            F.count(F.lit(1)).alias("n"),
        )
    lines = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .load()
        .select((F.col("value") * 2).alias("v"))
    )
    q = (
        lines.writeStream.outputMode("append")
        .format("noop")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="obsreg-"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if q.exception() is not None:
                raise AssertionError(f"stream died: {q.exception()}")
            if q.recentProgress:
                break
            time.sleep(0.5)
        assert q.exception() is None
        assert q.recentProgress, "stream made no progress in 30s"
    finally:
        q.stop()


def test_metrics_are_the_values_collect_returns(spark):
    """Observed dates, timestamps and decimals come back as the Python
    objects ``collect()`` gives, not as handles on JVM objects."""
    df = spark.range(5).select(
        F.date_add(F.lit("2020-01-01").cast("date"), F.col("id").cast("int"))
        .alias("d"),
        (F.lit("2020-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id") * 1.5)).alias("ts"),
        (F.col("id") / 4).cast("decimal(10,2)").alias("dec"),
    )
    aggs = (F.min("d").alias("d_lo"), F.max("ts").alias("ts_hi"),
            F.sum("dec").alias("dec_sum"))
    _ck, m = checkpoint_with_metrics(df, "probe", *aggs)
    assert m == df.agg(*aggs).first().asDict()
    assert type(m["d_lo"]) is datetime.date
    assert type(m["ts_hi"]) is datetime.datetime
