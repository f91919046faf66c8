"""A lakehouse table format on plain parquet: a commit log, snapshots,
merge-on-read deletion vectors and a change-data feed, with the
architecture of Delta Lake and Iceberg and no dependency beyond
pyspark and pyarrow.

* **Commit log**: ``<root>/_log/{version:08d}.json`` — one JSON action
  record per commit, created with ``O_CREAT|O_EXCL`` so two writers
  racing for the same version get exactly one winner (optimistic
  concurrency; the loser raises :class:`CommitConflict` and retries on
  fresh state). Data files are immutable; a commit only ever ADDs new
  files and logically REMOVEs old ones, so readers of any version are
  never torn.
* **Snapshots / time travel**: the live file set of version ``v`` is
  the replay of adds minus removes up to ``v``. Any historical version
  stays readable until :func:`vacuum` reclaims its unreferenced files.
* **File-level stats pruning**: each add records per-file min/max for
  the declared stat columns, read from the just-written parquet footers
  (a Spark agg over the new files only where footer stats cannot be
  exact). :func:`merge_upsert` and
  :func:`delete_where` prune to candidate files via those stats, so a
  10-row upsert into a 100 TB table rewrites only the files whose
  [min,max] key range can contain the keys — everything else is
  carried by reference, never read, never written (copy-on-write at
  file granularity, exactly Delta's MERGE).
* **Log checkpoints**: every ``checkpoint_every`` commits the full live
  file list is consolidated into ``{version:08d}.checkpoint.json``;
  replay starts at the newest checkpoint ≤ the requested version, so
  log-replay cost is O(files/commit × checkpoint interval), not
  O(total history) — the same reason Delta writes parquet checkpoints.
* **Deletion vectors (merge-on-read)**: ``delete_where(mode="mor")``
  marks rows deleted WITHOUT rewriting their gigabyte data files — a
  commit attaches a tiny parquet sidecar of ``(file, row position)``
  pairs, and every reader anti-joins it back out (Delta DVs / Iceberg
  v2 position deletes). At 100 TB this turns "delete 5 rows" from a
  1 GB rewrite into a 1 KB sidecar write; the read-side anti-join cost
  is reclaimed by the next :func:`compact`/:func:`optimize_cluster`,
  which applies and clears the vectors. Sidecars are cumulative per
  file (one sidecar read per file, never a chain) and row positions
  are parquet row indices (``_metadata.row_index``), so a file's DV
  survives unrelated commits untouched.
* **Change-data feed**: one planner (:func:`_change_units`) turns a
  version range into typed change units (inserted and deleted files,
  DV diffs, rewrite pairs) and two executors run the plan:
  :func:`table_changes` with Spark, and :func:`_read_change_unit` with
  Arrow, one unit at a time, for the streaming CDF source and the
  rollup driver fold.

Driver-side metadata is proportional to file COUNT, not data bytes —
the standard lakehouse trade; at 100 TB with ~1e5 files the replay is
a few MB of JSON. No daemon, no service: any Spark job (or a plain
python process) with filesystem access can read or commit.

Single-filesystem scope: atomicity relies on ``O_EXCL`` create, which
holds on POSIX and HDFS-style stores; S3 needs a commit coordinator —
out of scope here, as it is for OSS Delta.
"""

from __future__ import annotations

import dataclasses
import datetime
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ._obs import checkpoint_with_metrics

_LOG = "_log"


class CommitConflict(RuntimeError):
    """Another writer committed this version first; reload and retry."""


# --------------------------------------------------------------------------
# log primitives


def _log_dir(root: str) -> str:
    return os.path.join(root, _LOG)


def _commit_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"{version:08d}.json")


def _checkpoint_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"{version:08d}.checkpoint.json")


def latest_version(root: str) -> int:
    """Highest committed version, or -1 for a nonexistent table."""
    d = _log_dir(root)
    if not os.path.isdir(d):
        return -1
    vs = [
        int(f[:8])
        for f in os.listdir(d)
        if f.endswith(".json") and not f.endswith(".checkpoint.json")
    ]
    return max(vs, default=-1)


def _write_commit(root: str, version: int, record: dict) -> None:
    """Atomically publish the commit file. Content is fully written to
    a private temp file first, then ``os.link``ed onto the final name —
    link is the one atomic step (it fails with ``FileExistsError`` for
    the race loser, same exclusivity as O_EXCL), and unlike
    create-then-write it never exposes a torn/empty commit to a
    concurrent reader's ``json.load``. Stamps the commit wall-clock
    (``ts``) for history and timestamp travel."""
    import time

    os.makedirs(_log_dir(root), exist_ok=True)
    path = _commit_path(root, version)
    record.setdefault("ts", time.time())
    tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as f:
        json.dump(record, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflict(
            f"version {version} already committed at {path}"
        ) from None
    finally:
        os.unlink(tmp)


def _read_commit(root: str, version: int) -> dict:
    with open(_commit_path(root, version)) as f:
        return json.load(f)


def history(root: str) -> list[dict]:
    """All commit records, oldest first (version/action/row counts)."""
    out = []
    for v in range(latest_version(root) + 1):
        rec = _read_commit(root, v)
        out.append(
            {
                "version": rec["version"],
                "action": rec["action"],
                "n_added": len(rec.get("add", [])),
                "n_removed": len(rec.get("remove", [])),
                "rows_added": sum(a.get("rows", 0) for a in rec.get("add", [])),
                "n_dv_files": len(rec.get("dv", {})),
                "ts": rec.get("ts"),
            }
        )
    return out


def effective_timestamps(root: str) -> list[float]:
    """Per-version skew-adjusted commit wall-clocks: the running max
    makes the timeline monotone even under writer clock skew — the
    same adjustment Delta applies. Commits written before timestamps
    existed sort as 0. This is THE one timestamp policy; both batch
    ``TIMESTAMP AS OF`` (:func:`version_at_timestamp`) and the
    streaming source's ``startingTimestamp`` resolve through it so the
    two can never disagree on the same table."""
    out, eff = [], 0.0
    for v in range(latest_version(root) + 1):
        eff = max(eff, _read_commit(root, v).get("ts", 0.0))
        out.append(eff)
    return out


def version_at_timestamp(root: str, ts: float) -> int:
    """The newest version whose commit wall-clock is ≤ ``ts`` (Delta's
    ``TIMESTAMP AS OF``). Raises if the table didn't exist yet."""
    best = -1
    for v, eff in enumerate(effective_timestamps(root)):
        if eff <= ts:
            best = v
        else:
            break
    if best < 0:
        raise ValueError(
            f"no commit at or before timestamp {ts} in {root}"
        )
    return best


def snapshot_files(root: str, version: int | None = None) -> tuple[list[dict], dict]:
    """Live ``add`` entries and the latest schema record at ``version``
    (default: latest). Replays from the newest checkpoint ≤ version."""
    head = latest_version(root)
    if head < 0:
        raise FileNotFoundError(f"no table at {root}")
    v = head if version is None else version
    if not 0 <= v <= head:
        raise ValueError(f"version {v} out of range [0, {head}]")
    start, live, schema = 0, {}, None
    for cv in range(v, -1, -1):
        cp = _checkpoint_path(root, cv)
        if os.path.exists(cp):
            with open(cp) as f:
                ck = json.load(f)
            live = {a["path"]: a for a in ck["live"]}
            schema = ck["schema"]
            start = cv + 1
            break
    for cv in range(start, v + 1):
        rec = _read_commit(root, cv)
        for p in rec.get("remove", []):
            live.pop(p, None)
        for a in rec.get("add", []):
            live[a["path"]] = a
        for p, d in rec.get("dv", {}).items():
            if p in live:  # merge-on-read: cumulative DV replaces prior
                live[p] = {
                    **live[p],
                    "dv": {"sidecar": d["sidecar"], "rows": d["rows"]},
                }
        if rec.get("schema"):
            schema = rec["schema"]
    return sorted(live.values(), key=lambda a: a["path"]), json.loads(schema)


def _maybe_checkpoint(root: str, version: int, checkpoint_every: int) -> None:
    if checkpoint_every <= 0 or version == 0 or version % checkpoint_every:
        return
    live, schema = snapshot_files(root, version)
    # consolidated exactly-once ledger: batch ids of every commit ≤
    # version, so committed_batch_ids replays only the log SUFFIX —
    # without this, every streaming micro-batch re-reads the whole
    # history and per-batch latency grows linearly forever. Computed
    # BEFORE the checkpoint file is created, or the scan would find
    # its own empty file. Published via temp+rename so a concurrent
    # reader never json.loads a torn checkpoint.
    batch_ids = sorted(_batch_ids_through(root, version))
    path = _checkpoint_path(root, version)
    tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "version": version,
                "live": live,
                "schema": json.dumps(schema),
                "batch_ids": batch_ids,
            },
            f,
        )
    os.replace(tmp, path)


def _batch_ids_through(root: str, version: int) -> set[int]:
    """All streaming batch ids committed at or before ``version``,
    reading from the newest consolidated checkpoint ≤ version and then
    only the commit suffix (pre-consolidation checkpoints lack the key
    and fall through to older checkpoints / version 0)."""
    out: set[int] = set()
    start = 0
    for cv in range(version, -1, -1):
        cp = _checkpoint_path(root, cv)
        if not os.path.exists(cp):
            continue
        with open(cp) as f:
            ck = json.load(f)
        if "batch_ids" in ck:
            out.update(ck["batch_ids"])
            start = cv + 1
            break
    for v in range(start, version + 1):
        rec = _read_commit(root, v)
        if "batch_id" in rec:
            out.add(rec["batch_id"])
    return out


# --------------------------------------------------------------------------
# data-file helpers


# the footer key under which Spark's parquet writer records the Spark schema
_SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"


def _driver_exact(dt) -> bool:
    """Whether values of Spark type ``dt``, read from parquet on the
    driver, compare and order exactly as Spark compares them: integer,
    boolean, date and ``UTF8_BINARY`` string. Parquet, Arrow and Python
    order strings as unsigned bytes, which is ``UTF8_BINARY`` order;
    other collations compare differently. Excluded:

    - floats: parquet stats EXCLUDE NaN while Spark's min/max order it
      largest, and Spark's equality normalizes NaN and -0.0 where
      Arrow's does not;
    - timestamps: footer and Arrow values are UTC-normalized, Spark
      renders them in the session zone."""
    from pyspark.sql.types import (BooleanType, DateType, IntegralType,
                                   StringType)

    if isinstance(dt, StringType):
        return dt.collation == "UTF8_BINARY"
    return isinstance(dt, (IntegralType, BooleanType, DateType))


def _footer_adds(
    out_dir: str, rel: str, stat_cols: list[str]
) -> list[dict] | None:
    """Per-file (rows, min/max) add-entries read straight from the
    parquet FOOTERS just written — zero Spark jobs, where the read-back
    agg costs two on every write.
    Sound only where footer stats are exact and match Spark's agg
    semantics bit-for-bit, so the gate admits the stat columns whose
    Spark type (from the Spark schema Spark keeps in the footer) passes
    :func:`_driver_exact` and returns ``None`` (the caller falls back to
    the Spark agg) for anything else. Strings are exact because
    :func:`_write_data_files` writes with
    ``parquet.statistics.truncate.length`` at its maximum, overriding
    any session setting that would truncate min/max; values whose
    min+max pass parquet's 4 KB stats limit get no min/max at all and
    fall back below.

    Empty part files (committed by empty partitions) are removed here,
    mirroring the agg path's cleanup."""
    import pyarrow.parquet as pq

    adds: list[dict] = []
    for fname in sorted(os.listdir(out_dir)):
        if not fname.endswith(".parquet"):
            continue
        full = os.path.join(out_dir, fname)
        try:
            md = pq.ParquetFile(full).metadata
        except Exception:  # noqa: BLE001 - unreadable footer: use the agg
            return None
        if md.num_rows == 0:
            os.remove(full)
            continue
        raw = (md.metadata or {}).get(_SPARK_SCHEMA_KEY.encode())
        if raw is None:
            return None
        spark_types = {
            f.name: f.dataType
            for f in StructType.fromJson(json.loads(raw)).fields
        }
        # row-group column indices address parquet LEAVES (nested
        # structs flatten to dotted paths), NOT arrow's top-level
        # fields — resolve the stat col by its leaf path, which for a
        # top-level primitive equals the bare name. A mismatch here
        # (e.g. indexing leaf "meta.b" with arrow field index 1) would
        # commit another column's bounds as the stat col's and prune
        # unsoundly.
        leaf_idx = {
            md.schema.column(i).path: i for i in range(md.num_columns)
        }
        stats: dict[str, list] = {}
        for c in stat_cols:
            idx = leaf_idx.get(c)
            if idx is None or not _driver_exact(spark_types.get(c)):
                return None
            mins: list = []
            maxs: list = []
            for rg in range(md.num_row_groups):
                grp = md.row_group(rg)
                st = grp.column(idx).statistics
                if st is not None and st.has_min_max:
                    mins.append(st.min)
                    maxs.append(st.max)
                elif (
                    st is None
                    or not st.has_null_count
                    or st.null_count != grp.num_rows
                ):
                    return None  # stats absent but values present
            # no min/max in any row group ⇒ the column is all-NULL in
            # this file — exactly what the Spark agg would record
            stats[c] = (
                [_json_stat(min(mins)), _json_stat(max(maxs))]
                if mins
                else [None, None]
            )
        adds.append(
            {"path": os.path.join(rel, fname), "rows": md.num_rows,
             "stats": stats}
        )
    return adds


def _write_data_files(
    df: DataFrame, root: str, version: int, stat_cols: list[str]
) -> list[dict]:
    """Write ``df`` as immutable parquet under ``data/v{version}-<uuid>/``
    and return add-entries with per-file row counts and min/max stats.

    Stats come from the just-written parquet FOOTERS when every stat
    column passes :func:`_footer_adds`' exactness gate (no Spark job);
    otherwise the stats agg runs over the files just written (grouped
    by ``input_file_name``) — one scan of the NEW bytes only, the same
    footer-level bookkeeping parquet writers do; never over the table.
    """
    rel = f"data/v{version:08d}-{uuid.uuid4().hex[:8]}"
    out_dir = os.path.join(root, rel)
    # untruncated string min/max make the footer stats exact
    df.write.mode("error").option(
        "parquet.statistics.truncate.length", str(2**31 - 1)
    ).parquet(out_dir)
    fast = _footer_adds(out_dir, rel, stat_cols)
    if fast is not None:
        return sorted(fast, key=lambda a: a["path"])
    # the written schema is known: passing it skips the footer-reading
    # schema inference job
    written = df.sparkSession.read.schema(df.schema).parquet(out_dir)
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    per_file = (
        written.groupBy(F.input_file_name().alias("_file")).agg(*aggs).collect()
    )
    adds = []
    for r in per_file:
        fname = r["_file"].removeprefix("file:")
        adds.append(
            {
                "path": os.path.join(rel, os.path.basename(fname)),
                "rows": r["_rows"],
                "stats": {
                    c: [_json_stat(r[f"_min_{c}"]), _json_stat(r[f"_max_{c}"])]
                    for c in stat_cols
                },
            }
        )
    # empty partitions still produce part files; they carry no rows so
    # the stats agg never sees them — drop them now instead of leaving
    # instant orphans for vacuum.
    referenced = {os.path.basename(a["path"]) for a in adds}
    for fname in os.listdir(out_dir):
        if fname.endswith(".parquet") and fname not in referenced:
            os.remove(os.path.join(out_dir, fname))
    return sorted(adds, key=lambda a: a["path"])


def _write_arrow_file(
    tbl, root: str, version: int, st: StructType, stat_cols: list[str]
) -> list[dict]:
    """The driver twin of :func:`_write_data_files`: write the Arrow
    table ``tbl`` (already of Spark schema ``st``'s Arrow types) with
    pyarrow as ONE parquet file under ``data/v{version}-<uuid>/``, with
    no Spark job, and return its add-entry (none for an empty table).
    The footer carries ``st`` under the key Spark's own writer uses, so
    every Spark reader and :func:`_footer_adds` see the same types.
    Stats come from the table in memory; they are exact for stat columns
    that pass :func:`_driver_exact`, which the caller guarantees."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if tbl.num_rows == 0:
        return []
    rel = f"data/v{version:08d}-{uuid.uuid4().hex[:8]}"
    os.makedirs(os.path.join(root, rel))
    path = os.path.join(rel, f"part-00000-{uuid.uuid4()}.parquet")
    pq.write_table(
        tbl.replace_schema_metadata({_SPARK_SCHEMA_KEY: st.json()}),
        os.path.join(root, path),
    )
    stats = {}
    for c in stat_cols:
        mm = pc.min_max(tbl[c]).as_py()
        stats[c] = [_json_stat(mm["min"]), _json_stat(mm["max"])]
    return [{"path": path, "rows": tbl.num_rows, "stats": stats}]


def _json_stat(v):
    """Stats must live in JSON. Dates/timestamps go through isoformat —
    lexicographic order equals temporal order, so pruning comparisons
    stay correct as long as bounds are rendered the same way."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, datetime.date):  # datetime.datetime included
        return v.isoformat()
    return str(v)


def _empty_frame(spark: SparkSession, st: StructType) -> DataFrame:
    """A zero-row frame of schema ``st``, planned as an empty
    ``LocalRelation``. ``spark.createDataFrame([], st)`` plans a
    LogicalRDD over a Python RDD instead, whose tasks start Python
    workers each time it is read."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(to_arrow_schema(st).empty_table(), schema=st)


def _abs_paths(root: str, adds: list[dict]) -> list[str]:
    return [os.path.join(root, a["path"]) for a in adds]


# --------------------------------------------------------------------------
# deletion vectors (merge-on-read)

def _file_base_col():
    return F.element_at(
        F.split(F.col("_metadata.file_path"), "/"), -1
    ).alias("_file")


def _row_pos_col():
    return F.col("_metadata.row_index").alias("_pos")


def _sidecar_path(root: str, entry: dict) -> str | None:
    """Absolute path of the sidecar a live entry's DV points at, if any."""
    dv = entry.get("dv")
    return os.path.join(root, dv["sidecar"]) if dv else None


def _dv_positions(sidecar: str | None, base: str):
    """The deleted row positions (sorted int64 numpy array) that the
    sidecar at absolute path ``sidecar`` holds for data file ``base``
    (basename); empty for ``None``. Plain pyarrow, no Spark job — the
    one reader of per-file DV positions, shared by the writers, the
    change feed and the streaming source's workers."""
    import numpy as np

    if sidecar is None:
        return np.empty(0, dtype=np.int64)
    import pyarrow.parquet as pq

    t = pq.read_table(sidecar, columns=["pos"], filters=[("file", "=", base)])
    return np.sort(t.column("pos").to_numpy().astype(np.int64))


def _dv_table(positions: dict):
    """Per-file position arrays as one ``(file, pos)`` Arrow table —
    the sidecar layout."""
    import numpy as np
    import pyarrow as pa

    bases = sorted(positions)
    return pa.table({
        "file": pa.array(
            np.repeat(np.array(bases, dtype=object),
                      [len(positions[b]) for b in bases]),
            pa.string(),
        ),
        "pos": pa.array(
            np.concatenate([np.empty(0, np.int64)]
                           + [positions[b] for b in bases]),
            pa.int64(),
        ),
    })


def _displaced_pairs(root: str, cands: list[dict], key_col: str, keys):
    """The ``(file, pos)`` pairs of the live rows of ``cands`` whose
    ``key_col`` is in ``keys`` (an Arrow array of the table's key type
    holding no NULL), found on the driver with no Spark job: each
    file's key column is read alone, and a row's ordinal in the file is
    its parquet ``_metadata.row_index`` across row groups. Positions the
    file's current DV masks are dropped. Sound only for key types whose
    Arrow equality is Spark's (:func:`_driver_exact`)."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    hits = {}
    for a in cands:
        base = os.path.basename(a["path"])
        col = pq.read_table(
            os.path.join(root, a["path"]), columns=[key_col]
        ).column(0).cast(keys.type)
        pos = np.setdiff1d(
            np.flatnonzero(pc.is_in(col, value_set=keys).to_numpy()),
            _dv_positions(_sidecar_path(root, a), base),
            assume_unique=True,
        )
        if len(pos):
            hits[base] = pos
    return _dv_table(hits)


def _write_dv_mask(
    pairs, root: str, version: int, cands: list[dict]
) -> tuple[list[dict], dict]:
    """Mask rows of ``cands`` with deletion vectors: the MoR write path
    of every DML, run on the driver with no Spark job. ``pairs`` is an
    Arrow table whose two columns are the file basename and the row
    position of each newly masked row, none of them masked already
    (MERGE finds them on the driver or collects them, DELETE and UPDATE
    collect them with ``toArrow()``). A file whose every row is now
    masked is removed outright; the others' prior positions are unioned
    with the new ones into ONE cumulative sidecar, written with pyarrow
    under ``data/`` so vacuum's walk governs it like any data file. DV
    rows are churn-bounded (mass deletes belong in copy-on-write mode),
    so the pairs fit the driver. Returns (entries to remove, the
    commit's ``dv`` map); both are empty when nothing matched."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    by_base = {os.path.basename(a["path"]): a for a in cands}
    u = uuid.uuid4().hex[:8]
    sidecar = f"data/v{version:08d}-dv-{u}/dv-{u}.parquet"
    files, positions = pairs.columns
    full, dv_map, cum = [], {}, {}
    for base in sorted(pc.unique(files).to_pylist()):
        a = by_base[base]
        new = positions.filter(pc.equal(files, base)).to_numpy()
        if a.get("dv", {}).get("rows", 0) + len(new) == a["rows"]:
            full.append(a)
            continue
        cum[base] = np.union1d(_dv_positions(_sidecar_path(root, a), base), new)
        dv_map[a["path"]] = {"sidecar": sidecar, "rows": len(cum[base])}
    if cum:
        out = os.path.join(root, sidecar)
        os.makedirs(os.path.dirname(out))
        pq.write_table(_dv_table(cum), out)
    return full, dv_map


def _dv_rows(spark: SparkSession, root: str, entries: list[dict]) -> DataFrame:
    """The ``(file basename, pos)`` deletion pairs of these live
    entries, read on the driver and handed to Spark as a local relation
    (no Spark job). Each entry's positions come from the sidecar it
    currently points at: a sidecar is shared by every file its commit
    touched, and a LATER commit rewrites a file's cumulative rows into a
    NEW sidecar, so older sidecars are never consulted."""
    return spark.createDataFrame(_dv_table({
        os.path.basename(e["path"]): _dv_positions(
            _sidecar_path(root, e), os.path.basename(e["path"])
        )
        for e in entries
        if "dv" in e
    }))


def _meta_schema(st: StructType) -> StructType:
    from pyspark.sql.types import LongType, StringType, StructField

    return StructType(
        st.fields
        + [
            StructField("_file", StringType(), True),
            StructField("_pos", LongType(), True),
        ]
    )


# Candidate rows up to which merge_upsert finds displaced rows on the
# driver. Reading a file's key column and testing it with pc.is_in takes
# ~90 ns a row for short string keys (4 vCPU), so 2M rows take ~0.2 s,
# under the ~0.3 s fixed cost of the Spark semi-join's three jobs; past
# that, Spark's parallel scan wins. The driver holds one file's key
# column at a time. read_files broadcasts the DV pairs it anti-joins
# only below the same count: both cap the rows of one MoR operation
# that the driver takes on.
_DRIVER_ROWS = 2_000_000


def read_files(
    spark: SparkSession,
    root: str,
    entries: list[dict],
    st: StructType,
    *,
    with_meta: bool = False,
) -> DataFrame:
    """Read a set of live add-entries as one DataFrame with each file's
    deletion vector applied (merge-on-read) — the ONE read path every
    table consumer goes through. Files without a DV keep the plain
    vectorized parquet scan with zero overhead; DV'd files are read
    with parquet row positions (``_metadata.row_index``) and the
    churn-bounded sidecar pairs are anti-joined back out (broadcast
    below 2M deleted rows, shuffle join beyond). ``with_meta`` keeps
    ``_file`` (basename) and ``_pos`` columns for position-aware
    callers (DV writes, change feeds)."""
    base_cols = [F.col(f.name) for f in st.fields]

    def _read(es: list[dict], need_meta: bool) -> DataFrame:
        df = spark.read.schema(st).parquet(*_abs_paths(root, es))
        if need_meta:
            return df.select(*base_cols, _file_base_col(), _row_pos_col())
        return df

    plain = [e for e in entries if "dv" not in e]
    dvd = [e for e in entries if "dv" in e]
    parts = []
    if plain:
        parts.append(_read(plain, with_meta))
    if dvd:
        df = _read(dvd, True)
        dv = _dv_rows(spark, root, dvd)
        n_dv = sum(e["dv"]["rows"] for e in dvd)
        if n_dv < _DRIVER_ROWS:
            dv = F.broadcast(dv)
        df = df.join(
            dv,
            (F.col("_file") == F.col("file")) & (F.col("_pos") == F.col("pos")),
            "left_anti",
        )
        if not with_meta:
            df = df.drop("_file", "_pos")
        parts.append(df)
    if not parts:
        return _empty_frame(spark, _meta_schema(st) if with_meta else st)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# public API


def create_table(
    df: DataFrame,
    root: str,
    *,
    stat_cols: list[str] | None = None,
    checkpoint_every: int = 10,
    extra: dict | None = None,
    checks: dict[str, str] | None = None,
) -> int:
    """Version 0: write the initial snapshot. ``stat_cols`` declares the
    columns whose per-file min/max drive MERGE/DELETE file pruning.
    ``extra`` merges app-level metadata into the commit record (e.g. the
    IVM spec — see :mod:`.ivm`); it may not shadow core record keys.

    ``checks`` declares named SQL CHECK constraints (Delta's
    ``ADD CONSTRAINT``): every write path that introduces rows (create,
    append, MERGE batch) evaluates them in ONE aggregate job over the
    new rows and rejects the whole commit on any violation
    (:class:`CheckViolation` with per-constraint counts). SQL
    three-valued semantics: a row violates only when the expression is
    FALSE — NULL passes, as in standard CHECK."""
    if latest_version(root) >= 0:
        raise FileExistsError(f"table already exists at {root}")
    stat_cols = stat_cols or []
    checks = checks or {}
    if checks:
        _enforce_checks(df, checks)
    adds = _write_data_files(df, root, 0, stat_cols)
    record = {
        "version": 0,
        "action": "create",
        "add": adds,
        "remove": [],
        "schema": df.schema.json(),
        "stat_cols": stat_cols,
        "checkpoint_every": checkpoint_every,
        "checks": checks,
    }
    if extra:
        clash = set(extra) & set(record)
        if clash:
            raise ValueError(f"extra metadata shadows core keys: {sorted(clash)}")
        record.update(extra)
    _write_commit(root, 0, record)
    return 0


def _table_meta(root: str) -> dict:
    return _read_commit(root, 0)


class CheckViolation(ValueError):
    """A write batch broke a declared CHECK constraint; nothing was
    committed."""


def _enforce_checks(df: DataFrame, checks: dict[str, str]) -> None:
    """ONE aggregate job over the batch: per constraint, count rows
    where the expression is FALSE (NULL passes — SQL CHECK semantics).
    Raises :class:`CheckViolation` naming every violated constraint."""
    aggs = [
        F.count(F.when(F.expr(expr) == F.lit(False), 1)).alias(name)
        for name, expr in checks.items()
    ]
    row = df.agg(*aggs).collect()[0]
    bad = {n: row[n] for n in checks if row[n]}
    if bad:
        raise CheckViolation(
            "CHECK constraint(s) violated, commit rejected: "
            + ", ".join(
                f"{n} ({c} row(s), expr: {checks[n]!r})"
                for n, c in sorted(bad.items())
            )
        )


def table_checks(root: str) -> dict[str, str]:
    """The table's declared CHECK constraints (name → SQL expr)."""
    return dict(_table_meta(root).get("checks", {}))


def read_table(
    spark: SparkSession,
    root: str,
    *,
    version: int | None = None,
    timestamp: float | None = None,
) -> DataFrame:
    """Snapshot read, optionally time-travelled to ``version`` or to
    the newest commit at ``timestamp`` (``TIMESTAMP AS OF``)."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at_timestamp(root, timestamp)
    live, schema = snapshot_files(root, version)
    st = StructType.fromJson(schema)
    # schema evolution: files written before a column existed are read
    # with the committed (latest-at-version) schema; missing columns
    # come back null — parquet is schema-on-read. Deletion vectors are
    # applied inside read_files (merge-on-read).
    return read_files(spark, root, live, st)


def committed_batch_ids(root: str) -> set[int]:
    """Streaming batch ids already recorded in the commit log — the
    exactly-once ledger for :func:`streaming_sink` replays. Reads the
    newest consolidated checkpoint plus the commit suffix, so the
    per-micro-batch cost is O(checkpoint_every), not O(history)."""
    return _batch_ids_through(root, latest_version(root))


def _check_schema_widening(root: str, new) -> None:
    """Schema evolution guard: an append may ADD columns (old files read
    them back as NULL — parquet is schema-on-read) but may never drop or
    retype an existing column; that would silently narrow the committed
    schema and corrupt reads of every earlier file."""
    _live, cur = snapshot_files(root)
    cur_types = {f["name"]: f["type"] for f in cur["fields"]}
    new_types = {f.name: f.dataType.jsonValue() for f in new.fields}
    dropped = sorted(set(cur_types) - set(new_types))
    retyped = sorted(
        n for n, t in cur_types.items() if n in new_types and new_types[n] != t
    )
    if dropped or retyped:
        raise ValueError(
            f"append schema is not a widening of the table schema: "
            f"dropped={dropped} retyped={retyped}; cast/select to match "
            "(new columns may be added, existing ones never removed or "
            "retyped)"
        )


def append(
    df: DataFrame,
    root: str,
    *,
    batch_id: int | None = None,
    max_retries: int = 3,
) -> int:
    """Blind append — add-only commit, no files read or removed.
    ``batch_id`` makes streaming replays idempotent (see
    :func:`merge_upsert`). The batch schema must be a widening of the
    committed schema (see :func:`_check_schema_widening`).

    Optimistic concurrency, but cheaper than MERGE's: an append has no
    read-set, so a lost commit race reuses the already-staged data
    files verbatim and re-stamps only the commit record at the next
    version — an O(1) retry, no data rewrite. (The staged directory's
    ``v{N}`` prefix records the version the files were staged under,
    not necessarily the one that committed them; snapshot resolution
    reads only the log.)"""
    meta = _table_meta(root)
    if batch_id is not None and batch_id in committed_batch_ids(root):
        return latest_version(root)
    _check_schema_widening(root, df.schema)
    if meta.get("checks"):
        _enforce_checks(df, meta["checks"])
    v = latest_version(root) + 1
    adds = _write_data_files(df, root, v, meta["stat_cols"])
    for attempt in range(max_retries + 1):
        rec = {
            "version": v,
            "action": "append",
            "add": adds,
            "remove": [],
            "schema": df.schema.json(),
        }
        if batch_id is not None:
            rec["batch_id"] = batch_id
        try:
            _write_commit(root, v, rec)
            break
        except CommitConflict:
            if attempt == max_retries:
                raise
            if batch_id is not None and batch_id in committed_batch_ids(root):
                return latest_version(root)  # replay raced us in
            _check_schema_widening(root, df.schema)  # may have widened
            v = latest_version(root) + 1
    _maybe_checkpoint(root, v, meta.get("checkpoint_every", 10))
    return v


def _spark_order(v):
    """Sort key that orders NaN above every number, as Spark orders
    doubles (so a file holding NaN commits NaN as its max). A bare
    ``<``/``<=`` with NaN is always false, which would prune the files
    that hold NaN rows although Spark's equality matches NaN to NaN."""
    nan = v != v
    return (nan, 0.0 if nan else v)


def _candidate_files(
    live: list[dict],
    bounds: dict[str, tuple],
    key_col: str,
    values: list | None = None,
) -> tuple[list[dict], list[dict]]:
    """Split live files into (candidates, untouched) via stats overlap
    with the update batch's [min,max] key range (``None`` leaves a side
    open) — or, when the exact ``values`` are known (IN-list predicates,
    small MERGE batches), per-value overlap: a sparse key set like
    {5, 999999} then prunes every file strictly between the two keys,
    where the convex hull would keep them all. A file with no stats for
    the key column is always a candidate (correctness first). Values and
    bounds compare in Spark's order (:func:`_spark_order`)."""
    import bisect

    if values is not None:
        vs = sorted(map(_spark_order, values))

        def hit(lo_, hi_):  # any value within [min, max]?
            i = bisect.bisect_left(vs, lo_)
            return i < len(vs) and vs[i] <= hi_
    else:
        lo, hi = bounds[key_col]

        def hit(lo_, hi_):
            return ((hi is None or lo_ <= _spark_order(hi))
                    and (lo is None or _spark_order(lo) <= hi_))
    cands, rest = [], []
    for a in live:
        st = a.get("stats", {}).get(key_col)
        if st is None or st[0] is None:
            cands.append(a)
        elif hit(_spark_order(st[0]), _spark_order(st[1])):
            cands.append(a)
        else:
            rest.append(a)
    return cands, rest


def merge_upsert(
    updates: DataFrame,
    root: str,
    *,
    key_col: str,
    max_retries: int = 3,
    batch_id: int | None = None,
    mode: str = "cow",
) -> int:
    """MERGE: rows in ``updates`` replace same-key rows, new keys are
    inserted. ``mode="cow"`` (default) is Delta's classic copy-on-write
    — only files whose [min,max] ``key_col`` range overlaps the batch
    are read and rewritten; the rest of the table is carried by
    reference. ``mode="mor"`` is Delta's DV-enabled MERGE: displaced
    rows are masked with deletion-vector sidecars and the update batch
    lands as NEW files — write cost is O(batch) + a sidecar, with ZERO
    rewrite of existing data files (a 10-row upsert into a 100 TB table
    writes 10 rows, not the gigabyte files holding the old versions);
    the read-side anti-join is reclaimed at the next compact. The
    change feed is exact under both modes (old row versions surface as
    ``deleted``, batch rows as ``inserted``).

    A batch of up to 10,000 rows whose key type passes
    :func:`_driver_exact` is pinned, its key column collected once with
    ``toArrow()`` and counted on the driver; in ``mor`` mode the
    displaced rows are then found on the driver too
    (:func:`_displaced_pairs`), so the merge runs three Spark jobs: the
    pin, the key collect and the batch write. Other key types and
    larger batches take a grouped Spark collect for the keys; they, a
    batch key typed unlike the table's and candidates above
    ``_DRIVER_ROWS`` rows take a broadcast semi-join for the displaced
    rows.

    Retries on :class:`CommitConflict` against the refreshed snapshot
    (optimistic concurrency) — a cow loser re-writes the merged output
    in full before re-planning; a mor loser re-writes only the batch
    (O(batch), not O(candidate files) — the asymmetry that makes mor
    the cheap retry too). Orphans from lost races are
    :func:`vacuum`-reclaimed.

    Delta MERGE semantics on duplicate source keys: if ``updates``
    carries the same key twice the target row would be replaced by an
    arbitrary pair of rows, so (like Delta) this raises ``ValueError``
    instead of silently inserting both.

    ``batch_id`` (used by :func:`streaming_sink`) is recorded in the
    commit and makes replays idempotent: if any commit already carries
    this batch_id the merge is a no-op returning the current version.
    """
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_type

    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    spark = updates.sparkSession
    meta = _table_meta(root)
    if key_col not in meta["stat_cols"]:
        raise ValueError(
            f"key_col {key_col!r} must be in stat_cols {meta['stat_cols']}"
        )
    if batch_id is not None and batch_id in committed_batch_ids(root):
        return latest_version(root)
    # Pin the batch once: the merge reads `updates` several times, and a
    # caller-provided pipeline (filter over a scan, a join...) would
    # otherwise re-run per action. O(batch) bytes, the quantity MERGE is
    # already proportional to. Size and key range ride the pin's job.
    updates, b = checkpoint_with_metrics(
        updates,
        "merge_batch",
        F.count(F.lit(1)).alias("n"),
        F.min(key_col).alias("lo"),
        F.max(key_col).alias("hi"),
    )
    if b["n"] == 0:  # truly empty update batch: no-op, no commit
        return latest_version(root)
    # The duplicate-key check and the exact key set come from one
    # collect. NULL keys are left out of both: a NULL source key never
    # equi-matches a target row (SQL join semantics), so any number of
    # NULL-key rows are plain inserts, as in Delta's whenNotMatched.
    key_type = updates.schema[key_col].dataType
    keys = None  # the non-NULL batch keys as Arrow, for the driver match
    if b["n"] <= 10_000 and _driver_exact(key_type):
        # Arrow's equality is Spark's for these types, so the key column
        # is counted on the driver
        counts = pc.value_counts(
            updates.select(key_col).toArrow().column(0).drop_null()
        )
        keys = counts.field("values")
        dup = keys.filter(pc.greater(counts.field("counts"), 1)).to_pylist()
        key_vals = keys.to_pylist()
    else:
        non_null = updates.filter(F.col(key_col).isNotNull())
        per_key = non_null.groupBy(key_col).agg(F.count(F.lit(1)).alias("_n"))
        key_rows = per_key.limit(10_001).collect()
        if len(key_rows) <= 10_000:
            key_vals = [r[key_col] for r in key_rows]
            dup = [r[key_col] for r in key_rows if r["_n"] > 1]
        else:  # the bounded collect saw only part of the batch
            key_vals = None
            dup = [r[key_col]
                   for r in per_key.filter("_n > 1").limit(1).collect()]
    if dup:
        raise ValueError(
            f"updates batch has multiple rows for {key_col}="
            f"{dup[0]!r}; MERGE requires unique source keys "
            "(dedupe the batch first)"
        )
    if meta.get("checks"):
        _enforce_checks(updates, meta["checks"])
    # Exact batch keys: per-value stats overlap prunes sparse upserts
    # far harder than the [lo, hi] hull — two keys at the domain's ends
    # touch 2 files, not every file between them. Past 10,000 keys the
    # hull is used. An all-NULL batch has no keys, so candidates prune
    # to zero and the whole batch is inserts.
    bounds: dict[str, tuple] = {}
    if key_vals is not None:
        key_vals = [_json_stat(v) for v in key_vals]
    else:
        bounds[key_col] = (_json_stat(b["lo"]), _json_stat(b["hi"]))
    for _ in range(max_retries):
        base_v = latest_version(root)
        live, _schema = snapshot_files(root, base_v)
        st = StructType.fromJson(_schema)
        cands, _rest = _candidate_files(
            live, bounds, key_col, values=key_vals
        )
        v = base_v + 1
        rec = {"version": v, "action": "merge", "schema": None,
               "write_mode": mode}
        if batch_id is not None:
            rec["batch_id"] = batch_id
        if mode == "cow":
            if cands:
                existing = read_files(spark, root, cands, st)
                keep = existing.join(
                    F.broadcast(updates.select(key_col).distinct()),
                    on=key_col,
                    how="left_anti",
                )
                merged = keep.unionByName(
                    updates.select(existing.columns),
                    allowMissingColumns=False,
                )
            else:
                merged = updates
            rec["add"] = _write_data_files(merged, root, v, meta["stat_cols"])
            rec["remove"] = [a["path"] for a in cands]
        else:
            mor_adds = _write_data_files(
                updates.select([f.name for f in st.fields]),
                root, v, meta["stat_cols"],
            )
            full, dv_map = [], {}
            if cands:
                if (keys is not None and st[key_col].dataType == key_type
                        and sum(a["rows"] for a in cands) <= _DRIVER_ROWS):
                    pairs = _displaced_pairs(
                        root, cands, key_col,
                        keys.cast(to_arrow_type(key_type)),
                    )
                else:
                    pairs = read_files(
                        spark, root, cands, st, with_meta=True
                    ).join(
                        F.broadcast(updates.select(key_col)),
                        on=key_col,
                        how="left_semi",
                    ).select("_file", "_pos").toArrow()
                full, dv_map = _write_dv_mask(pairs, root, v, cands)
            rec["add"] = mor_adds
            rec["remove"] = [a["path"] for a in full]
            rec["dv"] = dv_map
        try:
            _write_commit(root, v, rec)
        except CommitConflict:
            # lose the race: orphan the just-written files (vacuum will
            # reclaim them) and re-plan against the new snapshot.
            continue
        _maybe_checkpoint(root, v, meta.get("checkpoint_every", 10))
        return v
    raise CommitConflict(f"merge lost {max_retries} races at {root}")


_CMP_RE = r"(<=|>=|=|<|>)"


def _pred_literal(tok: str):
    tok = tok.strip()
    if len(tok) >= 2 and tok[0] == tok[-1] and tok[0] in "'\"":
        inner = tok[1:-1]
        # Escaped quotes ('' / \' inside '...', "" / \" inside "...")
        # change the literal's VALUE; a naive strip would compare the
        # wrong string against file min/max stats and could unsoundly
        # prune a matching file. Pruning is an optimization — returning
        # None (no bound) is always sound, so bail instead of
        # attempting unescape. Only the literal's OWN quote char or a
        # backslash can be an escape: the opposite quote style is plain
        # data (`'say "hi"'` strips exactly), so it keeps its bound.
        if tok[0] in inner or "\\" in inner:
            return None
        return inner
    try:
        return int(tok)
    except ValueError:
        try:
            return float(tok)
        except ValueError:
            return None


def _mask_strings(predicate: str) -> tuple[str, list[str]]:
    """Replace every quoted literal with an indexed placeholder
    (``\\x00<i>\\x00``) so the bound-extraction regexes can never match
    comparator text INSIDE a string (e.g. ``note = 'id > 100'`` must
    not tighten ``id``'s bounds). Returns the masked predicate and the
    literal table; ``_pred_literal`` resolves placeholders back.

    SQL-escaped quotes are consumed as part of ONE literal: ``''`` /
    ``\\'`` inside single quotes (and ``\"\"`` / ``\\\"`` inside double
    quotes) no longer terminate the match, so ``note = 'it''s'`` masks
    as a single placeholder instead of two literals with live predicate
    text between them — which previously let comparator text inside the
    "gap" derive unsound stats-pruning bounds."""
    import re

    lits: list[str] = []

    def repl(m):
        lits.append(m.group(0))
        return f"\x00{len(lits) - 1}\x00"

    return (
        re.sub(
            r"'(?:[^'\\]|''|\\.)*'|\"(?:[^\"\\]|\"\"|\\.)*\"",
            repl,
            predicate,
        ),
        lits,
    )


# quoted literals are masked to \x00<i>\x00 before regex scanning
_MASKED_LIT_RE = r"(\x00[0-9]+\x00|[-+]?[0-9]+(?:\.[0-9]+)?)"


def _extract_bounds(predicate: str, col: str):
    """Conservative [lo, hi] range ``col`` must satisfy for the
    predicate to hold, or ``None`` when no sound range exists.

    Handles the data-skipping subset real engines extract: top-level
    conjunctions of ``col <op> literal`` / ``literal <op> col`` /
    ``col BETWEEN a AND b`` / ``col IN (literals)``. Any disjunction or
    negation disables pruning entirely (correctness first) — a file is
    only ever skipped when its [min,max] cannot intersect the range.
    String literals are masked before scanning so comparator-looking
    text inside them can never produce unsound bounds."""
    import re

    predicate, str_lits = _mask_strings(predicate)
    up = f" {predicate.upper()} "
    if " OR " in up or " NOT " in up or "NOT(" in up.replace(" ", ""):
        return None
    c = re.escape(col)
    lo: object = None
    hi: object = None

    def lit_of(tok: str):
        tok = tok.strip()
        if tok.startswith("\x00"):
            return _pred_literal(str_lits[int(tok.strip("\x00"))])
        return _pred_literal(tok)

    def tighten(op: str, lit):
        nonlocal lo, hi
        if lit is None:
            return
        if op in ("<", "<="):
            hi = lit if hi is None else min(hi, lit)
        elif op in (">", ">="):
            lo = lit if lo is None else max(lo, lit)
        elif op == "=":
            lo = lit if lo is None else max(lo, lit)
            hi = lit if hi is None else min(hi, lit)

    lit_re = _MASKED_LIT_RE
    for op, tok in re.findall(rf"\b{c}\s*{_CMP_RE}\s*{lit_re}", predicate):
        tighten(op, lit_of(tok))
    flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "="}
    for tok, op in re.findall(rf"{lit_re}\s*{_CMP_RE}\s*\b{c}\b", predicate):
        tighten(flip[op], lit_of(tok))
    m = re.search(
        rf"\b{c}\s+BETWEEN\s+{lit_re}\s+AND\s+{lit_re}",
        predicate,
        re.IGNORECASE,
    )
    if m:
        tighten(">=", lit_of(m.group(1)))
        tighten("<=", lit_of(m.group(2)))
    m = re.search(rf"\b{c}\s+IN\s*\(([^()]*)\)", predicate, re.IGNORECASE)
    if m:
        lits = [lit_of(t) for t in m.group(1).split(",")]
        if all(v is not None for v in lits) and lits:
            tighten(">=", min(lits))
            tighten("<=", max(lits))
    if lo is None and hi is None:
        return None
    return (lo, hi)


def _extract_in_values(predicate: str, col: str):
    """The exact value set ``col`` must belong to for the predicate to
    hold (``col IN (...)`` or ``col = lit`` conjuncts), or ``None``.
    Sound under conjunction (the set over-approximates the true keys);
    disjunction/negation disable it, like :func:`_extract_bounds`.
    String literals are masked first, so ``IN``/``=`` text inside a
    quoted value can never fabricate a key set."""
    import re

    predicate, str_lits = _mask_strings(predicate)
    up = f" {predicate.upper()} "
    if " OR " in up or " NOT " in up or "NOT(" in up.replace(" ", ""):
        return None

    def lit_of(tok: str):
        tok = tok.strip()
        if tok.startswith("\x00"):
            return _pred_literal(str_lits[int(tok.strip("\x00"))])
        return _pred_literal(tok)

    c = re.escape(col)
    m = re.search(rf"\b{c}\s+IN\s*\(([^()]*)\)", predicate, re.IGNORECASE)
    if m:
        lits = [lit_of(t) for t in m.group(1).split(",")]
        if lits and all(v is not None for v in lits):
            return lits
    m = re.search(rf"\b{c}\s*=\s*{_MASKED_LIT_RE}", predicate)
    if m:
        v = lit_of(m.group(1))
        if v is not None:
            return [v]
    return None


def delete_where(
    spark: SparkSession,
    root: str,
    predicate: str,
    *,
    prune_col: str | None = None,
    mode: str = "cow",
    max_retries: int = 3,
) -> int:
    """Delete matching rows. ``mode="cow"`` (default) is copy-on-write
    at file granularity; ``mode="mor"`` is merge-on-read via deletion
    vectors — matched row positions land in a tiny parquet sidecar and
    the data files are NOT rewritten (Delta DVs / Iceberg v2 position
    deletes: the right shape for point/small deletes at 100 TB, where
    rewriting a 1 GB file to drop 5 rows is the wrong cost model; the
    next compact/cluster rewrite applies and clears the vectors). A
    file whose every row is deleted is removed outright in either mode.

    Three tiers of work avoidance, each sound:

    1. **Stats pruning (no read)** — with ``prune_col``, the predicate's
       implied [lo, hi] range on that column (see
       :func:`_extract_bounds`) is intersected with each file's
       committed [min,max]; a file that cannot overlap is carried by
       reference without being opened.
    2. **Match detection (one job)** — all surviving candidates are
       scanned in a SINGLE Spark job tagged with parquet row positions;
       a candidate with no matching row is also carried by reference.
    3. **Write (one job)** — cow rewrites the kept rows of all matched
       files together; mor writes one cumulative sidecar for all
       partially-matched files.

    Optimistic concurrency (same contract as :func:`merge_upsert`): a
    lost commit race re-plans against the refreshed snapshot; the
    loser's staged files become vacuum-reclaimable orphans.
    """
    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    meta = _table_meta(root)
    for _ in range(max_retries):
        try:
            return _delete_attempt(spark, root, predicate, prune_col, mode, meta)
        except CommitConflict:
            continue
    raise CommitConflict(f"delete lost {max_retries} races at {root}")


def _prune_by_predicate(
    live: list[dict], predicate: str, prune_col: str | None
) -> list[dict]:
    """Candidate files for a predicate via stats: exact value-set
    overlap when the predicate pins an IN-list / equality on
    ``prune_col`` (sparse keys skip everything between), else the
    conservative [lo, hi] hull; no ``prune_col`` → every live file."""
    if not prune_col:
        return live
    in_vals = _extract_in_values(predicate, prune_col)
    if in_vals is not None:
        cands, _rest = _candidate_files(
            live, {}, prune_col, values=[_json_stat(v) for v in in_vals]
        )
        return cands
    bounds = _extract_bounds(predicate, prune_col)
    if bounds is None:
        return live
    return _candidate_files(live, {prune_col: bounds}, prune_col)[0]


def _delete_attempt(
    spark: SparkSession,
    root: str,
    predicate: str,
    prune_col: str | None,
    mode: str,
    meta: dict,
) -> int:
    base_v = latest_version(root)
    live, _schema = snapshot_files(root, base_v)
    st = StructType.fromJson(_schema)
    cands = _prune_by_predicate(live, predicate, prune_col)
    if not cands:
        return base_v
    # one job over the candidates — DV-aware, so rows already deleted
    # by an earlier merge-on-read commit can't match again.
    tagged = read_files(spark, root, cands, st, with_meta=True)
    matched = tagged.filter(predicate).select("_file", "_pos")
    v = base_v + 1
    if mode == "cow":
        by_base = {os.path.basename(a["path"]): a for a in cands}
        matched_bases = {
            r["_file"] for r in matched.select("_file").distinct().collect()
        }
        if not matched_bases:
            return base_v
        hit = [by_base[b] for b in sorted(matched_bases)]
        # NOT(pred) alone would also drop rows where pred is NULL
        # (three-valued logic) — only TRUE rows are deleted, so keep
        # everything that is not definitely matched.
        kept = read_files(spark, root, hit, st).filter(
            f"NOT coalesce(({predicate}), false)"
        )
        adds = _write_data_files(kept, root, v, meta["stat_cols"])
        _write_commit(
            root,
            v,
            {"version": v, "action": "delete", "add": adds,
             "remove": [a["path"] for a in hit], "schema": None,
             "write_mode": "cow"},
        )
        _maybe_checkpoint(root, v, meta.get("checkpoint_every", 10))
        return v

    # --- merge-on-read ---
    full, dv_map = _write_dv_mask(matched.toArrow(), root, v, cands)
    if not full and not dv_map:
        return base_v
    _write_commit(
        root,
        v,
        {"version": v, "action": "delete", "add": [],
         "remove": [a["path"] for a in full], "dv": dv_map, "schema": None,
         "write_mode": "mor"},
    )
    _maybe_checkpoint(root, v, meta.get("checkpoint_every", 10))
    return v


def update_where(
    spark: SparkSession,
    root: str,
    predicate: str,
    assignments: dict[str, str],
    *,
    prune_col: str | None = None,
    mode: str = "cow",
    max_retries: int = 3,
) -> int:
    """Delta ``UPDATE table SET col = expr WHERE predicate``. Matched
    rows get each assignment expression applied (exprs see the OLD row
    — standard UPDATE semantics, so swaps like ``{"a": "b", "b": "a"}``
    behave); unmatched rows pass through untouched.

    ``mode="cow"`` rewrites only the files containing matches (stats
    pruning + one match-detection job, like :func:`delete_where`).
    ``mode="mor"`` masks the matched rows' positions with a
    deletion-vector sidecar and lands the updated versions as NEW files
    — O(matched rows) written, zero rewrite of existing files, exact
    under the streaming change feed (the mor-update commit is adds +
    DV diffs, both file-local). CHECK constraints are enforced on the
    updated rows; no-op (no commit) when nothing matches."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    meta = _table_meta(root)
    for _ in range(max_retries):
        try:
            return _update_attempt(
                spark, root, predicate, assignments, prune_col, mode, meta
            )
        except CommitConflict:
            continue
    raise CommitConflict(f"update lost {max_retries} races at {root}")


def _update_attempt(
    spark, root, predicate, assignments, prune_col, mode, meta
) -> int:
    base_v = latest_version(root)
    live, _schema = snapshot_files(root, base_v)
    st = StructType.fromJson(_schema)
    names = set(st.fieldNames())
    bad = sorted(set(assignments) - names)
    if bad:
        raise ValueError(f"assignment targets not in schema: {bad}")

    def _apply(df: DataFrame) -> DataFrame:
        # all exprs evaluate against the OLD row: single select
        return df.select(
            *[
                F.expr(assignments[f.name]).cast(f.dataType).alias(f.name)
                if f.name in assignments
                else F.col(f.name)
                for f in st.fields
            ]
        )

    cands = _prune_by_predicate(live, predicate, prune_col)
    if not cands:
        return base_v
    tagged = read_files(spark, root, cands, st, with_meta=True)
    matched = tagged.filter(predicate)
    v = base_v + 1

    if mode == "cow":
        by_base = {os.path.basename(a["path"]): a for a in cands}
        matched_bases = {
            r["_file"]
            for r in matched.select("_file").distinct().collect()
        }
        if not matched_bases:
            return base_v
        hit = [by_base[b] for b in sorted(matched_bases)]
        old = read_files(spark, root, hit, st)
        updated_part = _apply(old.filter(predicate))
        if meta.get("checks"):
            _enforce_checks(updated_part, meta["checks"])
        # coalesce: a NULL predicate row is UNMATCHED (kept as-is), not
        # silently dropped by NOT(NULL) three-valued logic
        rewritten = old.filter(
            f"NOT coalesce(({predicate}), false)"
        ).unionByName(updated_part)
        adds = _write_data_files(rewritten, root, v, meta["stat_cols"])
        _write_commit(
            root,
            v,
            {"version": v, "action": "update", "add": adds,
             "remove": [a["path"] for a in hit], "schema": None,
             "write_mode": "cow"},
        )
        _maybe_checkpoint(root, v, meta.get("checkpoint_every", 10))
        return v

    # --- merge-on-read: mask old versions, append new versions ---
    matched, m = checkpoint_with_metrics(  # mask + rewrite reuse
        matched, "update_matched", F.count(F.lit(1)).alias("n")
    )
    if m["n"] == 0:
        return base_v
    updated = _apply(matched.drop("_file", "_pos"))
    if meta.get("checks"):
        _enforce_checks(updated, meta["checks"])
    adds = _write_data_files(updated, root, v, meta["stat_cols"])
    full, dv_map = _write_dv_mask(
        matched.select("_file", "_pos").toArrow(), root, v, cands
    )
    _write_commit(
        root,
        v,
        {"version": v, "action": "update", "add": adds,
         "remove": [a["path"] for a in full], "dv": dv_map, "schema": None,
         "write_mode": "mor"},
    )
    _maybe_checkpoint(root, v, meta.get("checkpoint_every", 10))
    return v


def compact_small(
    spark: SparkSession,
    root: str,
    *,
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
    max_dv_fraction: float = 0.3,
) -> int:
    """Size-tiered OPTIMIZE: rewrite ONLY the live files smaller than
    ``target_bytes // 2`` into ~``target_bytes`` outputs, carrying every
    right-sized file by reference (never read, never written). This is
    the operational companion to :func:`streaming_sink` — many
    micro-batch appends each land a small file, and full :func:`compact`
    would rewrite the whole table per invocation (O(table) churn for an
    O(new-smalls) problem). Data-identical commit (a version diff is
    empty); no-op (no commit) when fewer than ``min_files`` small files
    exist. At 100 TB: cost ∝ accumulated small bytes, not table size.

    Deletion-vector debt: a file whose DV masks more than
    ``max_dv_fraction`` of its rows is also rewritten regardless of
    size — every read pays the anti-join for rows that are mostly dead
    (Delta's tombstone-ratio OPTIMIZE heuristic); the rewrite applies
    and clears the vector.

    Optimistic concurrency like every other writer: a lost commit race
    re-plans against the refreshed snapshot instead of propagating —
    essential for :func:`streaming_sink`'s ``compact_every``, where an
    exception would kill the streaming query over a benign race."""
    for _ in range(3):
        try:
            return _compact_small_attempt(
                spark, root, target_bytes, min_files, max_dv_fraction
            )
        except CommitConflict:
            continue
    raise CommitConflict(f"compact_small lost 3 races at {root}")


def _compact_small_attempt(
    spark, root, target_bytes, min_files, max_dv_fraction
) -> int:
    meta = _table_meta(root)
    base_v = latest_version(root)
    live, _schema = snapshot_files(root, base_v)
    def _dv_debt(a):
        return (
            "dv" in a
            and a.get("rows")
            and a["dv"]["rows"] / a["rows"] > max_dv_fraction
        )

    small = [
        a
        for a in live
        if os.path.getsize(os.path.join(root, a["path"])) < target_bytes // 2
        or _dv_debt(a)
    ]
    # a single mostly-dead file is worth rewriting on its own; pure
    # small-file accumulation still waits for min_files
    if len(small) < min_files and not any(_dv_debt(a) for a in small):
        return base_v
    total = sum(os.path.getsize(os.path.join(root, a["path"])) for a in small)
    n_out = max(1, round(total / target_bytes))
    df = read_files(
        spark, root, small, StructType.fromJson(_schema)
    ).coalesce(n_out)
    v = base_v + 1
    adds = _write_data_files(df, root, v, meta["stat_cols"])
    _write_commit(
        root,
        v,
        {"version": v, "action": "compact", "add": adds,
         "remove": [a["path"] for a in small], "schema": None},
    )
    _maybe_checkpoint(root, v, meta.get("checkpoint_every", 10))
    return v


def compact(spark: SparkSession, root: str, *, target_files: int = 1) -> int:
    """OPTIMIZE: rewrite the live set into ``target_files`` files —
    data-identical (a diff between the two versions is empty), so small
    files from many appends stop taxing every scan. Lost commit races
    re-plan against the refreshed snapshot (a racing delete may have
    removed an input file — committing the stale rewrite would
    resurrect its rows, so the retry rebuilds from scratch)."""
    for _ in range(3):
        try:
            return _compact_attempt(spark, root, target_files)
        except CommitConflict:
            continue
    raise CommitConflict(f"compact lost 3 races at {root}")


def _compact_attempt(spark, root, target_files) -> int:
    meta = _table_meta(root)
    base_v = latest_version(root)
    live, _schema = snapshot_files(root, base_v)
    df = read_files(
        spark, root, live, StructType.fromJson(_schema)
    ).coalesce(target_files)
    v = base_v + 1
    adds = _write_data_files(df, root, v, meta["stat_cols"])
    _write_commit(
        root,
        v,
        {"version": v, "action": "compact", "add": adds,
         "remove": [a["path"] for a in live], "schema": None},
    )
    _maybe_checkpoint(root, v, meta.get("checkpoint_every", 10))
    return v


def optimize_cluster(
    spark: SparkSession, root: str, by: list[str], *, target_files: int = 8
) -> int:
    """CLUSTER BY / Z-ORDER rewrite: data-identical (a version diff is
    empty), but the live set is rewritten range-partitioned + sorted on
    the clustering key so per-file [min,max] stats become near-disjoint
    — the layout move that turns :func:`merge_upsert` /
    :func:`delete_where` stats pruning from "no file excluded" (keys
    scattered, every file spans the full range) into "all but one file
    excluded". One column sorts directly; two columns interleave into a
    Morton Z-value (``layout.zorder_value``) so stats prune on EITHER
    column. One shuffle (the range partitioner), one write. Lost commit
    races re-plan against the refreshed snapshot (same rationale as
    :func:`compact`)."""
    if not 1 <= len(by) <= 4:
        raise ValueError(
            "cluster by 1 column (sort), 2 (Z-order) or up to 4 "
            "(N-way Morton; resolution drops past that)"
        )
    for _ in range(3):
        try:
            return _optimize_cluster_attempt(spark, root, by, target_files)
        except CommitConflict:
            continue
    raise CommitConflict(f"optimize_cluster lost 3 races at {root}")


def _optimize_cluster_attempt(spark, root, by, target_files) -> int:
    from . import layout

    meta = _table_meta(root)
    base_v = latest_version(root)
    live, _schema = snapshot_files(root, base_v)
    df = read_files(spark, root, live, StructType.fromJson(_schema))
    key = (
        F.col(by[0])
        if len(by) == 1
        else layout.zorder_value(by[0], by[1])
        if len(by) == 2
        else layout.zorder_value_n(by)
    )
    clustered = (
        df.withColumn("_ck", key)
        .repartitionByRange(target_files, "_ck")
        .sortWithinPartitions("_ck")
        .drop("_ck")
    )
    v = base_v + 1
    adds = _write_data_files(clustered, root, v, meta["stat_cols"])
    _write_commit(
        root,
        v,
        {"version": v, "action": "cluster", "add": adds,
         "remove": [a["path"] for a in live], "schema": None},
    )
    _maybe_checkpoint(root, v, meta.get("checkpoint_every", 10))
    return v


# data-identical commit actions: zero logical row change by construction
# (compact/cluster rewrite the same rows; a bloom index re-adds entries)
_NOOP_ACTIONS = {"compact", "cluster", "index"}


@dataclasses.dataclass(frozen=True)
class ChangeUnit:
    """One typed step of a change-feed plan (:func:`_change_units`).
    ``entry`` is a log entry read through its own DV: an ``insert``'s
    add (minus its new DV) or a ``delete``'s pre-commit entry (minus its
    old DV). A ``dv`` unit is the rows of ``entry``'s file that its new
    DV masks beyond ``old`` (the pre-commit entry), an ``undv`` unit the
    rows a restore un-masks. A ``rewrite`` pair holds a commit's add
    entries (``adds``) and its removed files' pre-commit entries
    (``removes``), whose surviving rows cancel only across files."""

    kind: str  # "insert" | "delete" | "dv" | "undv" | "rewrite"
    version: int
    root: str
    entry: dict | None = None
    old: dict | None = None
    adds: tuple = ()
    removes: tuple = ()
    action: str = ""

    @property
    def deleted(self) -> bool:
        return self.kind in ("delete", "dv")

    @property
    def rows(self) -> int:
        """The data-file rows that reading the unit costs."""
        return sum(e.get("rows", 0)
                   for e in (self.entry or {},) + self.adds + self.removes)

    def flips(self):
        """The row positions a ``dv`` unit newly masks or an ``undv``
        unit un-masks: a set difference of two sidecars."""
        import numpy as np

        base = os.path.basename(self.entry["path"])
        new = _dv_positions(_sidecar_path(self.root, self.entry), base)
        old = _dv_positions(_sidecar_path(self.root, self.old), base)
        if self.kind == "undv":
            new, old = old, new
        return np.setdiff1d(new, old)


def _rewrites(rec: dict) -> bool:
    """Whether commit ``rec`` wrote surviving rows into new files, so
    that files it removes and adds, or that a later restore across it
    drops and returns, can share row content: compaction, clustering,
    copy-on-write DML, a view refresh that replaced files, and a restore
    (it may itself span one). A bloom-index commit re-adds the same
    paths and rewrites nothing. This is the feed's one rewrite test."""
    act = rec.get("action")
    if act == "ivm_refresh":
        return bool(rec.get("add") or rec.get("remove"))
    if act in ("delete", "merge", "update"):
        return rec.get("write_mode", "cow") != "mor"
    return act in ("compact", "cluster", "restore")


def _change_units(root: str, v_from: int, v_to: int) -> list[ChangeUnit]:
    """The change feed of (``v_from``, ``v_to``] planned from the log
    alone as :class:`ChangeUnit` s, walking each commit once against a
    rolling pre-commit state. :func:`table_changes` runs the plan with
    Spark; :func:`_read_change_unit` runs it with Arrow, one unit at a
    time. Layout-only commits (:data:`_NOOP_ACTIONS`) plan nothing. A
    merge-on-read commit plans file-local units, exact without any
    cancellation: its adds are new rows, its removes whole files read
    through their old DVs and its DV diffs fresh positions. A restore
    plans per path: a file drops or returns whole, and a path on both
    sides differs only in DV state (``dv`` and ``undv``). A commit whose
    removed and added files can share rows (:func:`_rewrites`) plans
    one rewrite pair; for a restore that is when it both drops and
    returns files across a rewrite since its target version."""
    pre = (
        {a["path"]: a for a in snapshot_files(root, v_from)[0]}
        if v_from >= 0
        else {}
    )
    units: list[ChangeUnit] = []
    for v in range(v_from + 1, v_to + 1):
        rec = _read_commit(root, v)
        act = rec.get("action")
        adds = {a["path"]: a for a in rec.get("add", [])}
        removed = {p: pre[p] for p in rec.get("remove", []) if p in pre}
        both = adds.keys() & removed.keys()
        if act == "restore":
            pair = bool(adds.keys() - both and removed.keys() - both) and any(
                _rewrites(_read_commit(root, u))
                for u in range(rec.get("restore_of", 0) + 1, v)
            )
        else:
            pair = _rewrites(rec)
        if act in _NOOP_ACTIONS:
            pass
        elif pair:
            units.append(ChangeUnit(
                "rewrite", v, root, adds=tuple(adds.values()),
                removes=tuple(removed.values()), action=act,
            ))
        else:
            units += [ChangeUnit("delete", v, root, e)
                      for p, e in removed.items() if p not in both]
            units += [ChangeUnit("insert", v, root, a)
                      for p, a in adds.items() if p not in both]
            units += [ChangeUnit(k, v, root, adds[p], removed[p])
                      for p in sorted(both) for k in ("dv", "undv")]
        for p in removed:
            del pre[p]
        pre.update(adds)
        for p, d in rec.get("dv", {}).items():
            if p in pre:
                new = {**pre[p],
                       "dv": {"sidecar": d["sidecar"], "rows": d["rows"]}}
                units.append(ChangeUnit("dv", v, root, new, pre[p]))
                pre[p] = new
    return units


def _file_local(units: list[ChangeUnit]) -> list[ChangeUnit]:
    """``units`` for the Arrow executor, which reads each unit alone
    (:func:`_read_change_unit`). A rewrite pair's surviving rows cancel
    only across files, so one raises ``ValueError``, the contract of
    Delta CDF without CDC files; :func:`table_changes` is exact there."""
    u = next((u for u in units if u.kind == "rewrite"), None)
    if u is None:
        return units
    if u.action == "restore":
        raise ValueError(
            f"commit {u.version} restores across a rewrite "
            "(compact/cluster/cow/ivm): removed and re-added "
            "files may share row content, which a file-local "
            "stream cannot cancel — use table_changes() for "
            "this range"
        )
    if u.action == "ivm_refresh":
        raise ValueError(
            f"commit {u.version} is a view maintenance rewrite; stream the "
            "SOURCE table's change feed instead, or use "
            "table_changes() on the view"
        )
    raise ValueError(
        f"commit {u.version} is a copy-on-write {u.action}: surviving rows "
        "were rewritten into new files, so an exact row-level "
        "change stream cannot be derived file-locally — write "
        "with mode='mor' (deletion vectors) for streaming CDF, "
        "or use table_changes() for the batch-exact feed"
    )


def _read_change_unit(unit: ChangeUnit, schema):
    """The rows ``unit`` contributes, as an Arrow table of the Arrow
    ``schema``: only those columns are read, each cast to its type, and
    a column an older file lacks comes back NULL (the schema-on-read
    rule of :func:`read_table`). Row positions are the file's row
    order, which a parquet read preserves across row groups."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(unit.root, unit.entry["path"])
    pf = pq.ParquetFile(path)
    have = set(pf.schema_arrow.names)
    tbl = pf.read(columns=[f.name for f in schema if f.name in have])
    if unit.kind in ("dv", "undv"):
        tbl = tbl.take(unit.flips())
    elif "dv" in unit.entry:
        tbl = tbl.take(np.setdiff1d(
            np.arange(tbl.num_rows),
            _dv_positions(_sidecar_path(unit.root, unit.entry),
                          os.path.basename(path)),
        ))
    n = tbl.num_rows
    return pa.table(
        [tbl.column(f.name).cast(f.type) if f.name in have
         else pa.nulls(n, f.type) for f in schema],
        schema=schema,
    )


def table_changes(
    spark: SparkSession, root: str, v_from: int, v_to: int
) -> DataFrame:
    """Batch change-data-feed (Delta ``table_changes``): row-level
    changes per commit over (``v_from``, ``v_to``], each tagged with
    ``_commit_version`` and ``_change_type`` ∈ {inserted, deleted} —
    an update is one deleted + one inserted row at the same version.
    Churn-proportional, never a snapshot re-scan: the Spark executor of
    the plan :func:`_change_units` builds, reading only the files each
    commit adds, removes or re-masks, and each commit's inserted files
    in one :func:`read_files` and its deleted files in another. Every
    data file is immutable parquet, so the feed is deterministic and
    replayable from any version.

    - Deletion-vector positions a commit newly masks (``dv``) or a
      restore un-masks (``undv``) are diffed on the driver, and their
      files are read once, without their DVs, at those positions.
    - A removed file is read through its pre-commit DV, so rows already
      reported deleted are never reported twice.
    - Merge-on-read commits are file-local and cancel nothing: a row a
      MoR upsert writes back unchanged is one deleted and one inserted
      row, whether the displaced file was removed whole or masked. The
      feed is an exact signed multiset delta of the logical table.
    - Copy-on-write DML, view refreshes and a restore across a rewrite
      cancel their added against their removed files with
      ``exceptAll``; a copy-on-write delete needs only the deleted side.
    - Layout-only commits (compact, cluster, bloom index) hold the same
      logical rows before and after: they add nothing and none of their
      files is read."""
    head = latest_version(root)
    if not 0 <= v_from < v_to <= head:
        raise ValueError(
            f"need 0 <= v_from < v_to <= head({head}), "
            f"got ({v_from}, {v_to}]"
        )
    import functools
    import itertools

    import numpy as np
    import pyarrow as pa

    st = StructType.fromJson(snapshot_files(root, v_to)[1])
    units = _change_units(root, v_from, v_to)

    def _read(entries) -> DataFrame:
        return read_files(spark, root, list(entries), st)

    def _tag(df: DataFrame, change: str, v: int) -> DataFrame:
        return df.withColumns({"_change_type": F.lit(change),
                               "_commit_version": F.lit(v).cast("long")})

    parts = []
    for v, at in itertools.groupby(units, lambda u: u.version):
        at = list(at)
        for kind, change in (("insert", "inserted"), ("delete", "deleted")):
            entries = [u.entry for u in at if u.kind == kind]
            if entries:
                parts.append(_tag(_read(entries), change, v))
        for u in at:
            if u.kind != "rewrite":
                continue
            # exceptAll is a full-width multiset shuffle; with one side
            # empty the other side is the answer, and a copy-on-write
            # delete's added files are survivors of its removed ones
            added, removed = _read(u.adds), _read(u.removes)
            if u.removes:
                parts.append(_tag(removed.exceptAll(added) if u.adds
                                  else removed, "deleted", v))
            if u.adds and u.action != "delete":
                parts.append(_tag(added.exceptAll(removed) if u.removes
                                  else added, "inserted", v))
    flips = [(u, u.flips()) for u in units if u.kind in ("dv", "undv")]
    flips = [(u, pos) for u, pos in flips if len(pos)]
    if flips:
        # one semi-join of the re-masked files, read without their DVs,
        # against the tagged positions as a broadcast local relation
        n = [len(pos) for _, pos in flips]
        marks = spark.createDataFrame(pa.table({
            "file": np.repeat(
                [os.path.basename(u.entry["path"]) for u, _ in flips], n),
            "pos": np.concatenate([pos for _, pos in flips]),
            "_change_type": np.repeat(
                ["deleted" if u.deleted else "inserted" for u, _ in flips],
                n),
            "_commit_version": np.repeat([u.version for u, _ in flips], n),
        }))
        data = spark.read.schema(st).parquet(*dict.fromkeys(
            os.path.join(root, u.entry["path"]) for u, _ in flips
        )).select(*st.fieldNames(), _file_base_col(), _row_pos_col())
        parts.append(data.join(
            F.broadcast(marks),
            (F.col("_file") == F.col("file")) & (F.col("_pos") == F.col("pos")),
        ).drop("_file", "_pos", "file", "pos"))
    if not parts:  # no commit in the range changed a row
        return _tag(_empty_frame(spark, st), "inserted", v_to)
    return functools.reduce(DataFrame.unionByName, parts)


def table_diff(
    spark: SparkSession, root: str, v_old: int, v_new: int
) -> DataFrame:
    """Row-level diff between two versions: ``change_type`` ∈
    {inserted, deleted} under multiset semantics (exceptAll both ways).
    An update surfaces as one deleted + one inserted row."""
    old = read_table(spark, root, version=v_old)
    new = read_table(spark, root, version=v_new)
    return new.exceptAll(old).withColumn(
        "change_type", F.lit("inserted")
    ).unionByName(
        old.exceptAll(new).withColumn("change_type", F.lit("deleted"))
    )


def restore_table(root: str, version: int) -> int:
    """Delta ``RESTORE TABLE ... TO VERSION``: make the head snapshot
    equal an earlier version by ROLLING FORWARD — a new commit
    re-references the old files (and their deletion-vector state), so
    history is preserved and a bad write is undone without rewriting
    anything. Zero data I/O: the commit carries only metadata.

    Change-feed exactness: only entries that DIFFER from the head's
    (new files, or same path with different DV state) are re-added, and
    every differing-or-dropped path is removed first — so
    :func:`table_changes` across the restore commit reports exactly the
    logical diff (undeleted rows come back as ``inserted``), not a
    re-insert of the whole table.

    Raises ``FileNotFoundError`` if :func:`vacuum` already reclaimed a
    file the target version references (the standard lakehouse
    restore/retention contract). A lost commit race re-plans the diff
    against the new head (restore wins — the table still ends at the
    target version's state)."""
    for _ in range(3):
        try:
            return _restore_attempt(root, version)
        except CommitConflict:
            continue
    raise CommitConflict(f"restore lost 3 races at {root}")


def _restore_attempt(root: str, version: int) -> int:
    head = latest_version(root)
    if not 0 <= version <= head:
        raise ValueError(f"version {version} out of range [0, {head}]")
    target_live, target_schema = snapshot_files(root, version)
    missing = [
        p
        for a in target_live
        for p in [a["path"]] + ([a["dv"]["sidecar"]] if "dv" in a else [])
        if not os.path.exists(os.path.join(root, p))
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot restore {root} to v{version}: vacuum reclaimed "
            f"{len(missing)} referenced file(s), e.g. {missing[:3]}"
        )
    head_live, _ = snapshot_files(root, head)
    head_by_path = {a["path"]: a for a in head_live}
    target_by_path = {a["path"]: a for a in target_live}
    adds = [
        a for a in target_live if head_by_path.get(a["path"]) != a
    ]
    removes = sorted(
        set(head_by_path) - set(target_by_path)
        | {a["path"] for a in adds if a["path"] in head_by_path}
    )
    v = head + 1
    _write_commit(
        root,
        v,
        {"version": v, "action": "restore", "add": adds, "remove": removes,
         "schema": json.dumps(target_schema), "restore_of": version},
    )
    _maybe_checkpoint(root, v, _table_meta(root).get("checkpoint_every", 10))
    return v


def vacuum(
    root: str, *, retain_versions: int = 0, min_age_seconds: float = 0.0
) -> list[str]:
    """Delete data files unreferenced by the retained version range
    (head − retain_versions … head) — including orphans from lost
    commit races. Returns the deleted relative paths. Time travel
    before the retained range stops working, as in any lakehouse.

    ``min_age_seconds`` is the concurrent-writer guard: a writer stages
    its data files BEFORE winning the commit race (see
    :func:`merge_upsert`), so an unreferenced file younger than the
    window may belong to an in-flight commit and is skipped (mtime
    check — the same contract as Delta's retention period). The default
    0.0 is only safe when no writer is concurrently active; production
    callers should pass a window larger than their longest commit."""
    import time

    head = latest_version(root)
    keep: set[str] = set()
    for v in range(max(0, head - retain_versions), head + 1):
        live, _ = snapshot_files(root, v)
        keep.update(a["path"] for a in live)
        keep.update(a["dv"]["sidecar"] for a in live if "dv" in a)
    deleted = []
    now = time.time()
    data_root = os.path.join(root, "data")
    for dirpath, _dirs, files in os.walk(data_root):
        for fname in files:
            full = os.path.join(dirpath, fname)
            rel = os.path.relpath(full, root)
            if rel in keep or not fname.endswith(".parquet"):
                continue
            try:
                if (
                    min_age_seconds > 0
                    and now - os.path.getmtime(full) < min_age_seconds
                ):
                    continue
                os.remove(full)
            except OSError:
                continue  # raced another vacuum / an in-flight rename
            deleted.append(rel)
    # Drop version dirs that hold no parquet anywhere — Spark's
    # _SUCCESS/.crc markers don't count, or fully-vacuumed dirs would
    # leak forever. The sweep honors the SAME age guard as the file
    # loop: a concurrent writer creates its staging dir before any
    # .parquet lands in it (Spark parks task output under _temporary/
    # first), so a young parquet-free dir may be an in-flight commit —
    # rmtree'ing it kills the writer mid-write (caught by the
    # multi-writer interleaving test). Note the file loop above updates
    # the dir's mtime when it removes files, so under a guard a
    # just-emptied dir is reclaimed by a LATER vacuum once it has been
    # quiet for the window — eventual cleanup, never a racy one.
    for d in sorted(os.listdir(data_root)):
        full = os.path.join(data_root, d)
        if not os.path.isdir(full):
            continue
        try:
            if any(
                f.endswith(".parquet")
                for _p, _sub, files in os.walk(full)
                for f in files
            ):
                continue  # still referenced or in-flight data
            if (
                min_age_seconds > 0
                and now - os.path.getmtime(full) < min_age_seconds
            ):
                continue  # may belong to an in-flight commit
            shutil.rmtree(full)
        except OSError:
            continue
    return sorted(deleted)


def streaming_sink(
    root: str,
    *,
    key_col: str | None = None,
    compact_every: int = 0,
    compact_target_bytes: int = 128 * 1024 * 1024,
    merge_mode: str = "cow",
):
    """``foreachBatch`` function writing a stream into the table with
    exactly-once semantics: the micro-batch id is recorded in the
    commit, so a crash between sink commit and Spark's checkpoint
    advance — which makes Structured Streaming REPLAY the batch — hits
    the :func:`committed_batch_ids` ledger and becomes a no-op instead
    of a duplicate. ``key_col`` switches from append to
    :func:`merge_upsert` (streaming CDC upsert; batch must be
    key-unique — dedupe upstream, e.g. a last-per-key window).

    ``merge_mode="mor"`` makes each CDC upsert a deletion-vector merge
    (O(batch) write, zero rewrite of existing files — the right sink
    shape for high-frequency micro-batches against a huge table);
    pair it with ``compact_every`` so accumulated vectors and small
    files are both reclaimed on the same cadence.

    ``compact_every=N`` runs :func:`compact_small` after every Nth
    batch — micro-batch appends each land a small file, and unbounded
    accumulation taxes every later scan. The compaction is data-identical
    and safely replayable (it carries no batch id; re-running it is just
    another no-op-or-merge), so exactly-once delivery is unaffected.

    Usage::

        q = (df.writeStream.foreachBatch(streaming_sink(root))
               .option("checkpointLocation", ckpt).start())
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if key_col is None:
            append(batch_df, root, batch_id=batch_id)
        else:
            merge_upsert(batch_df, root, key_col=key_col, batch_id=batch_id,
                         mode=merge_mode)
        if compact_every > 0 and batch_id % compact_every == compact_every - 1:
            compact_small(
                batch_df.sparkSession, root, target_bytes=compact_target_bytes
            )

    return _sink
