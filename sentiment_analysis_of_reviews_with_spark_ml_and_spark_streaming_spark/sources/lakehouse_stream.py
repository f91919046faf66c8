"""``spark.read``/``readStream`` ``.format("lakehouse")`` — a Python
DataSource over the table-format commit log
(operators/table_format.py), the streaming half of the Delta/Iceberg
substitute (ROADMAP item 2; jars absent from this container).

Streaming contract (same as Delta's streaming source):

* The offset IS the commit version — ``{"version": v}`` checkpoints a
  position in the log, and every micro-batch is the set of files ADDED
  by versions ``(start, end]``. Data files are immutable, so any
  committed range replays byte-identically on failure recovery —
  the deterministic-replay property exactly-once sinks require.
* **Append-only by default**: a commit that REMOVES files (merge,
  delete, compact, cluster) poisons a row-level stream, so the reader
  raises unless ``ignoreChanges=true`` — in which case rewritten files
  are re-emitted whole (downstream must dedupe on a key), exactly
  Delta's documented ``ignoreChanges`` semantics.
* ``startingVersion`` (default: all history) seats the first batch.
* ``readChangeFeed=true`` switches to Delta's streaming CDF: each
  micro-batch emits row-level ``_change_type`` ∈ {inserted, deleted}
  for the commit range. Exactness is file/sidecar-local and therefore
  requires MERGE-ON-READ mutations (deletion vectors): a mor commit's
  adds are pure new rows and its deletes are whole files or DV diffs,
  so every split reads independently — no cross-file multiset
  cancellation. Copy-on-write delete/merge commits raise (their
  rewritten survivors are ambiguous at file granularity — the same
  contract as Delta CDF without CDC files; use ``table_changes`` for
  the batch-exact feed); compact/cluster/index commits are skipped as
  data-identical; RESTORE commits stream their exact per-path diff
  (raising only when the restore crosses a rewrite).

Scale shape: one input partition per change unit (an added data file,
a removed one, or a deletion-vector diff) — Spark schedules them
across executors, each worker reads ONLY its file through Arrow
(``pyarrow.parquet`` → ``RecordBatch`` yields, zero row-at-a-time
Python), and a 1000-commit backlog fans out as wide as the cluster.
The units are planned and read by ``table_format._change_units`` and
``_read_change_unit``, the same code ``ivm.refresh_rollup`` folds small
feeds with on the driver; this module only wraps each unit as a split.
Every row is tagged ``_commit_version`` (batch reads derive it from
the ``data/v{version:08d}-`` path prefix the writer stamps).
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StructField, StructType

from ..operators import table_format as tf

_VERSION_COL = "_commit_version"
_CHANGE_COL = "_change_type"


def _table_schema(root: str, cdf: bool = False) -> StructType:
    from pyspark.sql.types import StringType

    _live, schema = tf.snapshot_files(root)
    st = StructType.fromJson(schema)
    extra = (
        [StructField(_CHANGE_COL, StringType(), False)] if cdf else []
    )
    return StructType(
        st.fields + extra + [StructField(_VERSION_COL, LongType(), False)]
    )


def _unit_batches(unit: tf.ChangeUnit, schema: StructType):
    """Arrow-native read of one change unit (see
    :func:`..operators.table_format._read_change_unit`) in the source's
    ``schema``: the table's columns, ``_change_type`` when the schema
    carries it (the change feed) and ``_commit_version``."""
    import numpy as np
    import pyarrow as pa

    tbl = tf._read_change_unit(unit, pa.schema([
        pa.field(f.name, _arrow_type(f.dataType))
        for f in schema.fields
        if f.name not in (_VERSION_COL, _CHANGE_COL)
    ]))
    n = tbl.num_rows
    if _CHANGE_COL in schema.fieldNames():
        # dictionary-encoded constant: one string + n int32 indices in
        # C, instead of n Python string objects
        change = "deleted" if unit.deleted else "inserted"
        tbl = tbl.append_column(_CHANGE_COL, pa.DictionaryArray.from_arrays(
            pa.array(np.zeros(n, dtype=np.int32)), pa.array([change])
        ).cast(pa.string()))
    # constant column in C (numpy full), not a Python list — a 5M-row
    # file would otherwise materialize 5M interpreter objects per
    # partition on the worker hot path
    tbl = tbl.append_column(
        _VERSION_COL, pa.array(np.full(n, unit.version, dtype=np.int64))
    )
    yield from tbl.to_batches(max_chunksize=1 << 16)


def _arrow_type(dt):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    try:
        return to_arrow_type(dt)
    except Exception:  # pragma: no cover - exotic types
        return pa.string()


def _file_unit(root: str, entry: dict, version: int) -> tf.ChangeUnit:
    """A live file, minus its deletion vector, as an insert unit."""
    return tf.ChangeUnit(
        "insert", os.path.join(root, entry["path"]), version,
        entry.get("rows", 0), dv_new=tf._sidecar_path(root, entry),
    )


def _read_partition(partition, schema: StructType):
    """Every split holds one change unit, or ``None`` for the empty
    split Spark needs when a batch plans no file."""
    if partition.value is not None:
        yield from _unit_batches(partition.value, schema)


class LakehouseBatchReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self.root = options["path"]
        self.schema = schema

    def partitions(self):
        live, _ = tf.snapshot_files(self.root)
        # data/v{version:08d}-{uuid}/part-... — writer-stamped
        parts = [
            InputPartition(_file_unit(
                self.root, a,
                int(os.path.basename(os.path.dirname(a["path"]))[1:9]),
            ))
            for a in live
        ]
        return parts or [InputPartition(None)]

    def read(self, partition):
        yield from _read_partition(partition, self.schema)


def _cdf_partitions(root: str, v_from: int, v_to: int) -> list[InputPartition]:
    """One split per change unit of (``v_from``, ``v_to``], planned on
    the driver by :func:`..operators.table_format._change_units` — which
    raises on copy-on-write and view-rewrite commits, the contract of a
    file-local row-level stream."""
    return [InputPartition(u) for u in tf._change_units(root, v_from, v_to)]


class LakehouseStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options):
        self.root = options["path"]
        self.schema = schema
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        self.cdf = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )
        if "startingtimestamp" in options:
            # Delta's startingTimestamp: emit every commit whose
            # (skew-adjusted) wall-clock is at or after the timestamp.
            # Resolves through table_format.effective_timestamps — the
            # SAME monotone timeline batch TIMESTAMP AS OF uses, so the
            # two lookups can never drift apart on one table.
            ts = float(options["startingtimestamp"])
            effs = tf.effective_timestamps(self.root)
            if effs and ts > effs[-1]:
                # Delta raises when startingTimestamp is after the
                # latest commit (a typo'd far-future timestamp would
                # otherwise silently seat the stream at head and
                # stream nothing). startingVersion past head keeps
                # its distinct wait-for-those-commits semantics.
                raise ValueError(
                    f"startingTimestamp {ts} is after the latest commit "
                    f"timestamp {effs[-1]} of {self.root}; use "
                    "startingVersion to wait for future commits"
                )
            start = len(effs) - 1
            for v, eff in enumerate(effs):
                if eff >= ts:
                    start = v - 1
                    break
            self.starting = start
        else:
            self.starting = int(options.get("startingversion", 0)) - 1

    def initialOffset(self) -> dict:
        return {"version": self.starting}

    def latestOffset(self) -> dict:
        # never behind the requested start: a startingVersion past the
        # current head must WAIT for those commits (Delta semantics),
        # not plan a backward (start, head] batch that would first
        # regress the checkpointed offset to head and then re-emit the
        # very versions the user asked to skip.
        return {"version": max(tf.latest_version(self.root), self.starting)}

    def partitions(self, start: dict, end: dict):
        s, e = start["version"], end["version"]
        # clamp to the commits that actually exist: when startingVersion
        # sits past the current head, latestOffset holds the offset AT
        # the start (waiting), but availableNow still plans the empty
        # (start, start] batch — which must yield zero rows, not a
        # snapshot lookup at a version that doesn't exist yet.
        e = min(e, tf.latest_version(self.root))
        # A range with zero units still needs one (empty) split: Spark
        # requires at least one partition per planned batch.
        if e <= s:
            return [InputPartition(None)]
        if self.cdf:
            return _cdf_partitions(self.root, s, e) or [InputPartition(None)]
        parts = []
        for v in range(s + 1, e + 1):
            rec = tf._read_commit(self.root, v)
            if rec.get("action") in tf._NOOP_ACTIONS:
                # data-identical layout rewrites (OPTIMIZE/CLUSTER):
                # skip transparently, exactly like Delta's
                # dataChange=false handling — raising here would kill
                # every running stream at the first maintenance
                # compaction, and ignoreChanges would re-emit the whole
                # rewritten table as duplicates.
                continue
            if (rec.get("remove") or rec.get("dv")) and not self.ignore_changes:
                raise ValueError(
                    f"commit {v} ({rec['action']}) removes or DV-deletes "
                    "rows; the stream is append-only — set "
                    "ignoreChanges=true to re-emit rewritten files and "
                    "skip DV commits (downstream must dedupe), or "
                    "readChangeFeed=true for the exact row-level stream"
                )
            parts += [InputPartition(_file_unit(self.root, a, v))
                      for a in rec.get("add", [])]
        return parts or [InputPartition(None)]

    def read(self, partition):
        yield from _read_partition(partition, self.schema)

    def commit(self, end: dict) -> None:
        pass  # log-backed source: nothing to release


class LakehouseTableDataSource(DataSource):
    """Register with ``spark.dataSource.register(LakehouseTableDataSource)``,
    then::

        spark.read.format("lakehouse").option("path", root).load()
        spark.readStream.format("lakehouse").option("path", root).load()
    """

    @classmethod
    def name(cls) -> str:
        return "lakehouse"

    def schema(self) -> StructType:
        cdf = (
            str(self.options.get("readchangefeed", "false")).lower()
            == "true"
        )
        return _table_schema(self.options["path"], cdf=cdf)

    def reader(self, schema) -> LakehouseBatchReader:
        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            raise ValueError(
                "readChangeFeed is a STREAMING option here; for the "
                "batch-exact feed (which also handles copy-on-write "
                "commits via multiset diffs) use "
                "table_format.table_changes(spark, root, v_from, v_to)"
            )
        return LakehouseBatchReader(schema, self.options)

    def streamReader(self, schema) -> LakehouseStreamReader:
        return LakehouseStreamReader(schema, self.options)


def register_lakehouse_source(spark) -> None:
    spark.dataSource.register(LakehouseTableDataSource)
