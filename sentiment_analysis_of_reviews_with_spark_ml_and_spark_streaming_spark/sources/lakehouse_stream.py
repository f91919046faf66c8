"""``spark.read``/``readStream`` ``.format("lakehouse")``: a Python
DataSource over the commit log of :mod:`..operators.table_format`.

The offset is the commit version, ``{"version": v}``. Data files are
immutable, so any committed range replays byte-identically on recovery,
the deterministic replay that exactly-once sinks need.
``startingVersion`` (default: all history) or ``startingTimestamp``
seats the first batch.

* **Append-only by default**, as Delta's streaming source: a micro-batch
  is the files that versions ``(start, end]`` add. A commit that removes
  files or masks rows (merge, delete, update, restore) would make such a
  stream wrong, so it raises unless ``ignoreChanges=true``, which
  re-emits rewritten files whole (downstream must dedupe on a key).
  Re-emitting files is not a row-level change, so this mode walks the
  log itself. Layout-only commits (compact, cluster, bloom index) are
  skipped as data-identical.
* ``readChangeFeed=true`` is Delta's streaming CDF: the batch reads the
  change feed of ``(start, end]`` as planned by
  ``table_format._change_units``, the same plan ``table_changes`` runs
  with Spark. Each change unit becomes one input partition that a worker
  reads alone with Arrow (``table_format._read_change_unit``), so a
  backlog of many commits fans out as wide as the cluster. Reading a
  unit alone is exact only when no rows cancel across files, so a plan
  holding a rewrite pair (copy-on-write DML, a view refresh, a restore
  across a rewrite) raises, as Delta CDF does without CDC files.

Every row is tagged ``_commit_version``; a batch read of the live
snapshot takes it from the ``data/v{version:08d}-`` prefix the writer
stamps on each file's path.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators import table_format as tf

_VERSION_COL = "_commit_version"
_CHANGE_COL = "_change_type"


def _flag(options, name: str) -> bool:
    return str(options.get(name, "false")).lower() == "true"


def _table_schema(root: str, cdf: bool = False) -> StructType:
    _live, schema = tf.snapshot_files(root)
    st = StructType.fromJson(schema)
    extra = (
        [StructField(_CHANGE_COL, StringType(), False)] if cdf else []
    )
    return StructType(
        st.fields + extra + [StructField(_VERSION_COL, LongType(), False)]
    )


def _unit_batches(unit: tf.ChangeUnit | None, schema: StructType):
    """Arrow-native read of one change unit in the source's ``schema``:
    the table's columns, ``_change_type`` when the schema carries it
    (the change feed) and ``_commit_version``. ``None`` is the empty
    split Spark needs when a batch plans no unit."""
    import numpy as np
    import pyarrow as pa

    if unit is None:
        return
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


class LakehouseBatchReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self.root = options["path"]
        self.schema = schema

    def partitions(self):
        live, _ = tf.snapshot_files(self.root)
        # data/v{version:08d}-{uuid}/part-... — writer-stamped
        parts = [
            InputPartition(tf.ChangeUnit(
                "insert",
                int(os.path.basename(os.path.dirname(a["path"]))[1:9]),
                self.root, a,
            ))
            for a in live
        ]
        return parts or [InputPartition(None)]

    def read(self, partition):
        yield from _unit_batches(partition.value, self.schema)


def _cdf_partitions(root: str, v_from: int, v_to: int) -> list[InputPartition]:
    """One split per change unit of (``v_from``, ``v_to``], planned on
    the driver (one empty split for an empty plan); a plan that holds a
    rewrite pair raises ``ValueError`` (see ``table_format._file_local``)."""
    units = tf._file_local(tf._change_units(root, v_from, v_to))
    return [InputPartition(u) for u in units] or [InputPartition(None)]


class LakehouseStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options):
        self.root = options["path"]
        self.schema = schema
        self.ignore_changes = _flag(options, "ignorechanges")
        self.cdf = _flag(options, "readchangefeed")
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
        # Spark needs at least one (possibly empty) split per batch
        if e <= s:
            return [InputPartition(None)]
        if self.cdf:
            return _cdf_partitions(self.root, s, e)
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
            parts += [InputPartition(tf.ChangeUnit("insert", v, self.root, a))
                      for a in rec.get("add", [])]
        return parts or [InputPartition(None)]

    def read(self, partition):
        yield from _unit_batches(partition.value, self.schema)

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
        return _table_schema(self.options["path"],
                             cdf=_flag(self.options, "readchangefeed"))

    def reader(self, schema) -> LakehouseBatchReader:
        if _flag(self.options, "readchangefeed"):
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
