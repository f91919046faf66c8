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

Scale shape: one input partition per added data file — Spark schedules
them across executors, each worker reads ONLY its file through Arrow
(``pyarrow.parquet`` → ``RecordBatch`` yields, zero row-at-a-time
Python), and a 1000-commit backlog fans out as wide as the cluster.
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


class _FilePartition(InputPartition):
    def __init__(
        self, path: str, version: int, dv_sidecar: str | None = None
    ):
        self.path = path
        self.version = version
        self.dv_sidecar = dv_sidecar  # abs path; rows masked on read


def _table_schema(root: str, cdf: bool = False) -> StructType:
    from pyspark.sql.types import StringType

    _live, schema = tf.snapshot_files(root)
    st = StructType.fromJson(schema)
    extra = (
        [StructField("_change_type", StringType(), False)] if cdf else []
    )
    return StructType(
        st.fields + extra + [StructField(_VERSION_COL, LongType(), False)]
    )


def _read_file_batches(
    path: str, version: int, schema: StructType, dv_sidecar: str | None = None
):
    """Arrow-native file read: yield RecordBatches matching ``schema``
    (older files missing newer columns are null-backfilled — the same
    schema-on-read rule as table_format.read_table). ``dv_sidecar``
    masks merge-on-read deleted row positions (numpy boolean mask over
    the file's row order — parquet reads preserve it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = pa.schema(
        [
            pa.field(f.name, _arrow_type(f.dataType))
            for f in schema.fields
            if f.name != _VERSION_COL
        ]
        + [pa.field(_VERSION_COL, pa.int64())]
    )
    tbl = pq.read_table(path)
    if dv_sidecar:
        import numpy as np

        mask = np.ones(tbl.num_rows, dtype=bool)
        mask[tf._dv_positions(dv_sidecar, os.path.basename(path))] = False
        tbl = tbl.filter(pa.array(mask))
    n = tbl.num_rows
    cols = []
    for field in target:
        if field.name == _VERSION_COL:
            # constant column in C (numpy full), not a Python list — a
            # 5M-row file would otherwise materialize 5M interpreter
            # objects per partition on the worker hot path
            import numpy as np

            cols.append(pa.array(np.full(n, version, dtype=np.int64)))
        elif field.name in tbl.column_names:
            cols.append(tbl.column(field.name).cast(field.type).combine_chunks())
        else:
            cols.append(pa.nulls(n, type=field.type))
    out = pa.table(cols, schema=target)
    yield from out.to_batches(max_chunksize=1 << 16)


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
        parts = []
        for a in live:
            rel = a["path"]
            # data/v{version:08d}-{uuid}/part-... — writer-stamped
            ver = int(os.path.basename(os.path.dirname(rel))[1:9])
            dv = a.get("dv")
            parts.append(
                _FilePartition(
                    os.path.join(self.root, rel),
                    ver,
                    os.path.join(self.root, dv["sidecar"]) if dv else None,
                )
            )
        return parts or [_FilePartition("", -1)]

    def read(self, partition):
        if not partition.path:
            return
        yield from _read_file_batches(
            partition.path, partition.version, self.schema,
            getattr(partition, "dv_sidecar", None),
        )


_CHANGE_COL = "_change_type"

# data-identical commit actions: zero logical row change by construction
# (compact/cluster rewrite the same rows; a bloom index re-adds entries)
_NOOP_ACTIONS = {"compact", "cluster", "index"}


class _CdfPartition(InputPartition):
    """One change-feed split: a whole file inserted/deleted, or a
    deletion-vector diff (rows newly masked by this commit)."""

    def __init__(self, kind, path, version, dv_new=None, dv_old=None):
        self.kind = kind  # "insert" | "delete" | "dv"
        self.path = path
        self.version = version
        self.dv_new = dv_new  # abs sidecar path or None
        self.dv_old = dv_old


def _read_cdf_batches(part: _CdfPartition, schema: StructType):
    """Arrow-native change-feed read for one split. ``insert`` emits
    the file minus its (restore-carried) DV; ``delete`` emits the file
    minus its PRE-commit DV (rows already reported stay silent); ``dv``
    emits only the positions in (new sidecar − old sidecar)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = os.path.basename(part.path)
    tbl = pq.read_table(part.path)
    n = tbl.num_rows
    if part.kind in ("dv", "undv"):
        # dv: rows newly masked (deleted); undv: rows un-masked by a
        # restore (inserted back) — both are pure sidecar set algebra.
        a = tf._dv_positions(part.dv_new, base)
        b = tf._dv_positions(part.dv_old, base)
        fresh = np.setdiff1d(a, b) if part.kind == "dv" else np.setdiff1d(b, a)
        mask = np.zeros(n, dtype=bool)
        mask[fresh] = True
    else:
        sidecar = part.dv_new if part.kind == "insert" else part.dv_old
        mask = np.ones(n, dtype=bool)
        mask[tf._dv_positions(sidecar, base)] = False
    tbl = tbl.filter(pa.array(mask))
    n = tbl.num_rows
    change = "deleted" if part.kind in ("delete", "dv") else "inserted"
    target = pa.schema(
        [
            pa.field(f.name, _arrow_type(f.dataType))
            for f in schema.fields
            if f.name not in (_VERSION_COL, _CHANGE_COL)
        ]
        + [
            pa.field(_CHANGE_COL, pa.string()),
            pa.field(_VERSION_COL, pa.int64()),
        ]
    )
    cols = []
    for field in target:
        if field.name == _VERSION_COL:
            import numpy as np

            cols.append(pa.array(np.full(n, part.version, dtype=np.int64)))
        elif field.name == _CHANGE_COL:
            # dictionary-encoded constant: one string + n int32 indices
            # in C, instead of n Python string objects
            cols.append(
                pa.DictionaryArray.from_arrays(
                    pa.nulls(n, pa.int32()).fill_null(0),
                    pa.array([change], type=pa.string()),
                ).cast(pa.string())
            )
        elif field.name in tbl.column_names:
            cols.append(tbl.column(field.name).cast(field.type).combine_chunks())
        else:
            cols.append(pa.nulls(n, type=field.type))
    yield from pa.table(cols, schema=target).to_batches(max_chunksize=1 << 16)


def _range_has_rewrite(root: str, v_from: int, v_to: int) -> bool:
    """True when any commit in (``v_from``, ``v_to``) rewrote surviving
    rows into new files (compact/cluster/cow/ivm/nested restore) —
    the only case where a restore's removed and re-added file sets can
    share row content. Over a clean append/mor range, a restore's
    head-only removes retract exactly the rows inserted in the range
    and its target-only adds return exactly fully-dropped files, so
    file-local streaming stays multiset-exact."""
    for u in range(v_from + 1, v_to):
        r = tf._read_commit(root, u)
        act = r.get("action")
        if act in _NOOP_ACTIONS or act in ("restore", "ivm_refresh"):
            return True
        if act in ("delete", "merge", "update") and r.get(
            "write_mode", "cow"
        ) != "mor":
            return True
    return False


def _cdf_partitions(root: str, v_from: int, v_to: int) -> list[_CdfPartition]:
    """Driver-side CDF planning for (``v_from``, ``v_to``]: exact at
    FILE/SIDECAR granularity, which holds precisely when mutations are
    merge-on-read — a mor commit's adds are pure new rows and its
    deletions are full files or DV diffs, so no cross-file multiset
    cancellation is ever needed (the property that lets each split be
    read independently by one worker). Copy-on-write delete/merge and
    IVM refresh rewrite surviving rows into new files, so a row-level
    stream over them is ambiguous — those commits raise, same contract
    as Delta streaming CDF without CDC files. Data-identical commits
    (compact/cluster/index) are skipped; restore commits stream
    per-path (file drops/returns whole, DV differences as sidecar set
    algebra both ways) and raise only when the restore crosses a
    rewrite, where removed and re-added files may share content."""
    pre = (
        {a["path"]: a for a in tf.snapshot_files(root, v_from)[0]}
        if v_from >= 0
        else {}
    )

    def _abs(rel):
        return os.path.join(root, rel) if rel else None

    parts: list[_CdfPartition] = []
    for v in range(v_from + 1, v_to + 1):
        rec = tf._read_commit(root, v)
        action = rec.get("action")
        dv_items = rec.get("dv", {})
        if action in _NOOP_ACTIONS:
            pass  # zero logical change
        elif action in ("delete", "merge", "update") and rec.get(
            "write_mode", "cow"
        ) != "mor":
            raise ValueError(
                f"commit {v} is a copy-on-write {action}: surviving rows "
                "were rewritten into new files, so an exact row-level "
                "change stream cannot be derived file-locally — write "
                "with mode='mor' (deletion vectors) for streaming CDF, "
                "or use table_changes() for the batch-exact feed"
            )
        elif action == "ivm_refresh" and (rec.get("add") or rec.get("remove")):
            raise ValueError(
                f"commit {v} is a view maintenance rewrite; stream the "
                "SOURCE table's change feed instead, or use "
                "table_changes() on the view"
            )
        elif action == "restore":
            # per-path exact: a path present on both sides differs only
            # in DV state — stream the sidecar set-difference both ways.
            rem_set = set(rec.get("remove", []))
            add_by_path = {a["path"]: a for a in rec.get("add", [])}
            both = rem_set & set(add_by_path)
            head_only = rem_set - both
            target_only = set(add_by_path) - both
            if head_only and target_only and _range_has_rewrite(
                root, rec.get("restore_of", 0), v
            ):
                raise ValueError(
                    f"commit {v} restores across a rewrite "
                    "(compact/cluster/cow/ivm): removed and re-added "
                    "files may share row content, which a file-local "
                    "stream cannot cancel — use table_changes() for "
                    "this range"
                )
            for p in sorted(head_only):
                if p in pre:
                    parts.append(_CdfPartition(
                        "delete", _abs(p), v,
                        dv_old=_abs(pre[p].get("dv", {}).get("sidecar")),
                    ))
            for p in sorted(target_only):
                parts.append(_CdfPartition(
                    "insert", _abs(p), v,
                    dv_new=_abs(add_by_path[p].get("dv", {}).get("sidecar")),
                ))
            for p in sorted(both):
                old_sc = _abs(pre.get(p, {}).get("dv", {}).get("sidecar"))
                new_sc = _abs(add_by_path[p].get("dv", {}).get("sidecar"))
                parts.append(_CdfPartition("dv", _abs(p), v,
                                           dv_new=new_sc, dv_old=old_sc))
                parts.append(_CdfPartition("undv", _abs(p), v,
                                           dv_new=new_sc, dv_old=old_sc))
        else:
            for p in rec.get("remove", []):
                if p in pre:
                    e = pre[p]
                    parts.append(_CdfPartition(
                        "delete", _abs(p), v,
                        dv_old=_abs(e.get("dv", {}).get("sidecar")),
                    ))
            for a in rec.get("add", []):
                parts.append(_CdfPartition(
                    "insert", _abs(a["path"]), v,
                    dv_new=_abs(a.get("dv", {}).get("sidecar")),
                ))
            for p, d in dv_items.items():
                if p in pre:
                    parts.append(_CdfPartition(
                        "dv", _abs(p), v,
                        dv_new=_abs(d["sidecar"]),
                        dv_old=_abs(pre[p].get("dv", {}).get("sidecar")),
                    ))
        # roll pre-state forward
        for p in rec.get("remove", []):
            pre.pop(p, None)
        for a in rec.get("add", []):
            pre[a["path"]] = a
        for p, d in dv_items.items():
            if p in pre:
                pre[p] = {**pre[p],
                          "dv": {"sidecar": d["sidecar"], "rows": d["rows"]}}
    return parts


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
        if e <= s:
            return [_CdfPartition("insert", "", s)] if self.cdf else [
                _FilePartition("", -1)
            ]
        if self.cdf:
            parts = _cdf_partitions(self.root, s, e)
            return parts or [_CdfPartition("insert", "", s)]
        parts = []
        for v in range(s + 1, e + 1):
            rec = tf._read_commit(self.root, v)
            if rec.get("action") in _NOOP_ACTIONS:
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
            for a in rec.get("add", []):
                dv = a.get("dv")
                parts.append(
                    _FilePartition(
                        os.path.join(self.root, a["path"]), v,
                        os.path.join(self.root, dv["sidecar"]) if dv else None,
                    )
                )
        # A range with zero added files still needs one (empty) split:
        # Spark requires at least one partition per planned batch.
        return parts or [_FilePartition("", start["version"])]

    def read(self, partition):
        if not partition.path:
            return
        if getattr(partition, "kind", None):
            yield from _read_cdf_batches(partition, self.schema)
            return
        yield from _read_file_batches(
            partition.path, partition.version, self.schema,
            getattr(partition, "dv_sidecar", None),
        )

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
