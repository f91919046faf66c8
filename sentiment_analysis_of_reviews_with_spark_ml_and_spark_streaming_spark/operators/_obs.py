"""Eager localCheckpoint with metrics folded into the checkpoint job.

The iterative operators (BFS, fused Bellman-Ford, IVM refresh) pin a
frame and then need a small probe over it (is it empty, what is its
key range). Run as a separate isEmpty()/agg action, the probe is a
second Spark job per round over a frame just materialized; at small
sizes each job's fixed cost is the latency. A named CollectMetrics node
rides the checkpoint's own materialization, so the probe is free.

Deliberately NOT ``pyspark.sql.Observation``: its implementation
registers with the session-level ObservationManager, and after any
query used it, every subsequent STREAMING query in the same session
died at task-closure serialization (``NotSerializableException:
org.apache.spark.sql.classic.ObservationManager``; reproduced with
graph_weighted_paths followed by a rate-source stream, and pinned by a
test). The string-named ``observe`` variant plants the same
CollectMetrics node but keeps no session state; the values come back
through the observed plan's OWN QueryExecution after the eager
checkpoint has run it.
"""

from __future__ import annotations

from typing import Any

from pyspark.serializers import CPickleSerializer
from pyspark.sql import Column, DataFrame


def checkpoint_with_metrics(
    df: DataFrame, name: str, *aggs: Column
) -> tuple[DataFrame, dict[str, Any]]:
    """``df.localCheckpoint(eager=True)`` + the given aggregate
    metrics computed in the SAME job. Returns (checkpointed_df,
    {metric_alias: value}), each value the Python object ``collect()``
    would return for it (dates and timestamps as ``datetime`` values,
    not py4j handles on JVM objects). The metric names are plan-local,
    so reuse across rounds/queries is safe (each round's input is the
    previous round's checkpointed LogicalRDD — no CollectMetrics
    survives into it)."""
    observed = df.observe(name, *aggs)
    ck = observed.localCheckpoint(eager=True)
    jrow = observed._jdf.queryExecution().observedMetrics().apply(name)
    # the same JVM-to-Python row conversion Observation.get uses
    utils = getattr(
        df.sparkSession._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils"
    )
    row = CPickleSerializer().loads(utils.toPyRow(jrow))
    return ck, row.asDict(recursive=False)
