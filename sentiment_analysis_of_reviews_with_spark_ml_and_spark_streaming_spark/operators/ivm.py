"""Incremental materialized-view maintenance (IVM) over the lakehouse
change-data-feed — the classic warehouse capstone (Delta Live Tables /
Materialize / "self-maintainable views" in the Gupta–Mumick taxonomy)
re-expressed on :mod:`.table_format`.

A **rollup view** is a grouped aggregate (COUNT + SUMs — the
self-maintainable family; AVG derives as sum/count) materialized as its
own lakehouse table. A **refresh** never re-scans the source snapshot:
it reads the churn-proportional change-data-feed
(:func:`.table_format.table_changes`, or its file-local change units)
for the source versions since the last refresh, folds it into per-group *signed deltas*
(``inserted → +1``, ``deleted → −1``), and copy-on-write-merges those
deltas into the view at file granularity — only view files whose
[min,max] range on the leading group key overlaps the churned keys are
read or rewritten; the rest of the view is carried by reference.

Cost model: a refresh is O(churned rows) to build the delta plus
O(touched view files) to merge — never O(source) and never O(view).
Two executors serve those two steps under one plan/commit/retry loop:

* **Driver fold** (small feeds): when the range holds only append,
  merge-on-read, compaction and exact-restore commits, the change units
  (``table_format._change_units``) are read with pyarrow, key and
  measure columns only, and summed with an Arrow group-by; the delta is
  then summed into the candidate view rows and written as one parquet
  file with pyarrow. No Spark job: at a review batch's size a refresh
  is otherwise bound by the fixed cost of its six jobs, not by data.
* **Spark fold** (everything the driver gate refuses, see
  :func:`_driver_delta`, and feeds or view slices above
  ``table_format._DRIVER_ROWS`` rows): one map-side-combined shuffle
  on the group keys builds the delta; the delta's keys are broadcast
  into the anti-join that keeps untouched view rows, so the merge adds
  no extra shuffle.

Exact NULL fidelity with a full recompute: per SUM column the view
stores a hidden non-null count (``_nn_<col>``), so a group whose
non-null inputs all departed reports SUM = NULL exactly as
``groupBy().agg(F.sum(c))`` would, and groups whose row count reaches
zero are deleted from the view. Floating-point SUM columns accumulate
in a different order than a recompute — bitwise equality holds for
integer and decimal columns; doubles match to ulp-level tolerance
(documented, tested), which is why they never take the driver fold.

The maintenance spec (source root, group keys, sum columns) is recorded
in the view's version-0 commit; each refresh commit records the source
version it folded in (``ivm.src_version``), so the view is replayable
and refresh is idempotent under optimistic-concurrency retries.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ._obs import checkpoint_with_metrics

from . import bloom_index as bloom
from . import table_format as tfmt


def _nn(c: str) -> str:
    return f"_nn_{c}"


def _sum(c: str) -> str:
    return f"sum_{c}"


def _is_integral(dt) -> bool:
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    return isinstance(dt, (ByteType, ShortType, IntegerType, LongType))


def _widen(col, dt):
    """Integral SUM measures route through DECIMAL(38,0): a LONG sum
    of a key-sized column overflows signed 64 bits once a group holds a
    few such values (ANSI mode would abort the create or the refresh),
    while 38 digits hold any sum of up to 2^64 longs. The driver fold
    sums in the same ``decimal128(38, 0)``. Floats keep IEEE semantics;
    decimals already widen to precision 38 under Spark's sum."""
    if _is_integral(dt):
        return col.cast("decimal(38,0)")
    return col


def _rollup_frame(
    src: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    minmax_cols: list[str] | None = None,
) -> DataFrame:
    """Full-recompute shape of the view, hidden ``_nn_*`` included."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in sum_cols:
        aggs.append(
            F.sum(_widen(F.col(c), src.schema[c].dataType)).alias(_sum(c))
        )
        aggs.append(F.count(c).alias(_nn(c)))
    for c in minmax_cols or []:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return src.groupBy(*keys).agg(*aggs)


def _dim_frame(spark: SparkSession, spec: dict) -> DataFrame | None:
    """The version-pinned broadcast dimension for star rollups."""
    dim = spec.get("dim")
    if not dim:
        return None
    return tfmt.read_table(spark, dim["root"], version=dim["version"])


def _with_dim(spark: SparkSession, spec: dict, fact: DataFrame) -> DataFrame:
    """Fact rows (or fact change-feed rows) enriched with the pinned
    dimension — an inner broadcast equi-join, so fold cost stays
    O(churn) and the join adds no shuffle."""
    d = _dim_frame(spark, spec)
    if d is None:
        return fact
    return fact.join(F.broadcast(d), on=spec["dim"]["join_key"], how="inner")


def _dim_churn_feed(
    spark: SparkSession,
    state: dict,
    dim_head: int,
    *,
    max_pruned_keys: int = 100_000,
) -> DataFrame:
    """The ``F_old ⋈ ΔD`` summand of the star-rollup delta-join: the
    fact snapshot at the LAST FOLDED fact version joined to the
    dimension's signed change feed (``ΔD`` carries ``_change_type``,
    so dim-departed rows subtract whole group contributions and
    dim-arrived rows add them; an update is one of each).

    Scale path: the churned join-key set is bounded by DIM churn (a
    dimension is small by definition), so it is collected and the fact
    snapshot is read through :func:`.bloom_index.bloom_lookup` —
    committed min/max stats prune a fact clustered on the join key,
    bloom sidecars prune a scattered one, unindexed files are read
    (correctness first) — one job either way, never one per file. A
    degenerate churn wider than ``max_pruned_keys`` falls back to a
    full single-job fact scan against the broadcast feed."""
    dim = state["dim"]
    jk = dim["join_key"]
    dd = tfmt.table_changes(spark, dim["root"], dim["version"], dim_head)
    probe = dd.select(jk).distinct().limit(max_pruned_keys + 1).collect()
    # NULL dim join keys can never match the inner equi-join
    churned = [r[jk] for r in probe if r[jk] is not None]
    if len(probe) > max_pruned_keys:
        fact = tfmt.read_table(
            spark, state["src_root"], version=state["src_version"]
        )
    else:
        fact = bloom.bloom_lookup(
            spark, state["src_root"], jk, churned,
            version=state["src_version"],
        )
    return fact.join(F.broadcast(dd), on=jk, how="inner")


def create_rollup(
    spark: SparkSession,
    src_root: str,
    view_root: str,
    *,
    keys: list[str],
    sum_cols: list[str] | None = None,
    minmax_cols: list[str] | None = None,
    dim_root: str | None = None,
    dim_join_key: str | None = None,
    checkpoint_every: int = 10,
) -> int:
    """Materialize ``SELECT keys, count(*), sum(c)…, min(c)/max(c)…
    GROUP BY keys`` over the source table's current head as a lakehouse
    table at ``view_root``, and record the IVM spec + source version in
    the version-0 commit. One full source scan — the only one the view
    will ever need; every later :func:`refresh_rollup` is
    churn-proportional (``minmax_cols`` add a group-confined source
    recompute only when a delete could displace a stored extremum — see
    :func:`refresh_rollup`).

    **Star rollups**: with ``dim_root``/``dim_join_key`` the aggregate
    runs over ``fact ⋈ dim`` (inner broadcast equi-join; keys and
    measure columns may come from either side). Both sides maintain
    incrementally — the general Gupta–Mumick delta-join case: fact
    churn folds against the dim's NEW version, and dim churn folds as
    ``fact_old ⋈ Δdim`` with the fact scan confined to the churned
    join keys through the table's stats/bloom pruning (see
    :func:`refresh_rollup`).
    """
    sum_cols = sum_cols or []
    minmax_cols = minmax_cols or []
    src_v = tfmt.latest_version(src_root)
    if src_v < 0:
        raise FileNotFoundError(f"no source table at {src_root}")
    spec = {
        "src_root": src_root,
        "src_version": src_v,
        "keys": keys,
        "sum_cols": sum_cols,
        "minmax_cols": minmax_cols,
    }
    if dim_root is not None:
        if dim_join_key is None:
            raise ValueError("dim_root requires dim_join_key")
        spec["dim"] = {
            "root": dim_root,
            "join_key": dim_join_key,
            "version": tfmt.latest_version(dim_root),
        }
    shaped = _with_dim(spark, spec, tfmt.read_table(spark, src_root))
    # record WHICH measures got the integral→DECIMAL(38,0) overflow
    # widening: read_rollup's derived avg must cast those back to
    # DOUBLE (Spark's avg-over-integral type) but must NOT touch a
    # natively-decimal(p,0) measure, whose avg stays exact decimal —
    # the stored sum type alone can't tell the two apart.
    spec["widened_cols"] = [
        c for c in sum_cols if _is_integral(shaped.schema[c].dataType)
    ]
    view = _rollup_frame(shaped, keys, sum_cols, minmax_cols)
    return tfmt.create_table(
        view,
        view_root,
        stat_cols=[keys[0]],
        checkpoint_every=checkpoint_every,
        extra={"ivm": spec},
    )


def rollup_state(view_root: str) -> dict:
    """The IVM spec plus the newest folded-in source version."""
    spec = dict(tfmt._table_meta(view_root)["ivm"])
    spec.setdefault("minmax_cols", [])
    for v in range(tfmt.latest_version(view_root), -1, -1):
        rec = tfmt._read_commit(view_root, v)
        if "ivm" in rec:
            spec["src_version"] = rec["ivm"]["src_version"]
            if "dim" in spec and "dim_version" in rec["ivm"]:
                spec["dim"] = {**spec["dim"],
                               "version": rec["ivm"]["dim_version"]}
            break
    return spec


def read_rollup(
    spark: SparkSession, view_root: str, *, with_avg: bool = False
) -> DataFrame:
    """The view without its hidden ``_nn_*`` bookkeeping columns.

    ``with_avg`` derives ``avg_<c> = sum_<c> / non-null-count`` per SUM
    column — exactly Spark's ``avg`` semantics (NULLs excluded from the
    denominator; NULL when no non-null input), at zero maintenance
    cost because the non-null count is already stored."""
    df = tfmt.read_table(spark, view_root)
    cols = [F.col(c) for c in df.columns if not c.startswith("_nn_")]
    if with_avg:
        state = rollup_state(view_root)
        # only the measures the SPEC recorded as overflow-widened cast
        # back to double (Spark's avg-over-integral type; decimal
        # division would truncate at the result scale) — a natively
        # decimal(p,0) measure keeps its exact decimal avg, which the
        # stored sum type alone could not distinguish. Views created
        # before the widening recorded no list → empty default.
        widened = set(state.get("widened_cols", []))
        for c in state["sum_cols"]:
            num = F.col(_sum(c))
            if c in widened:
                num = num.cast("double")
            cols.append((num / F.col(_nn(c))).alias(f"avg_{c}"))
    return df.select(*cols)


def create_distinct_rollup(
    spark: SparkSession,
    src_root: str,
    aux_root: str,
    *,
    keys: list[str],
    distinct_col: str,
    checkpoint_every: int = 10,
) -> int:
    """Exact COUNT(DISTINCT ``distinct_col``) maintenance via the
    classic support table: an auxiliary rollup grouped by
    ``keys + [distinct_col]`` whose maintained row counts track each
    value's multiplicity. The aux view refreshes with the ordinary
    churn-proportional :func:`refresh_rollup`; distinct counts are a
    cheap aggregate over the (already small) aux view —
    :func:`read_distinct_counts`. Aux size is the number of live
    (group, value) pairs: the standard space trade for exact
    distinct-count maintainability under deletes (sketches can't
    subtract)."""
    return create_rollup(
        spark,
        src_root,
        aux_root,
        keys=[*keys, distinct_col],
        checkpoint_every=checkpoint_every,
    )


def read_distinct_counts(spark: SparkSession, aux_root: str) -> DataFrame:
    """``keys..., countd_<col>`` from a :func:`create_distinct_rollup`
    view — NULL values excluded from the count (SQL COUNT(DISTINCT)
    semantics), parent groups whose values are all NULL kept at 0."""
    spec = rollup_state(aux_root)
    parents, c = spec["keys"][:-1], spec["keys"][-1]
    aux = tfmt.read_table(spark, aux_root)
    return aux.groupBy(*parents).agg(
        F.sum(F.col(c).isNotNull().cast("long")).alias(f"countd_{c}")
    )


def refresh_rollup(
    spark: SparkSession, view_root: str, *, max_retries: int = 3
) -> int:
    """Fold all source commits since the last refresh into the view.

    Reads ONLY the change-data-feed for ``(last, head]`` (carried files
    cancel per commit — churn-proportional), aggregates it once into
    per-group signed deltas, then rewrites only the view files whose
    leading-key [min,max] overlaps the delta's key range. Groups whose
    maintained row count reaches zero are deleted; SUM columns go back
    to NULL when their non-null support departs. No-op (no new commit)
    when the source hasn't advanced. Optimistic concurrency: a lost
    commit race re-plans against the refreshed view snapshot, and a
    racing refresh that already folded ``head`` turns this call into a
    no-op rather than double-applying the delta.

    Cost: building the delta is O(churned rows) and merging it is
    O(candidate view rows). A small merge-on-read feed is folded on the
    driver with Arrow and no Spark job (:func:`_driver_delta`,
    :func:`_driver_apply`); a delta built there whose candidate view
    files carry a deletion vector, or outgrow ``_DRIVER_ROWS`` with the
    feed, is handed to the Spark merge as a local relation. Every other
    refresh builds the delta with one shuffle and pins it; the merge
    broadcasts the delta's keys into the anti-join, so it adds no
    shuffle of its own.

    MIN/MAX columns: inserts fold as ``least``/``greatest``; a delete
    that touches or passes a stored extremum flags ONLY that group for
    a source re-aggregation confined to the flagged keys (broadcast
    semi-join at the folded snapshot version) — deletes strictly inside
    the stored [min, max] stay incremental, and insert-only refreshes
    never read the source at all.

    Star rollups fold BOTH sides (delta-join algebra): with
    ``F_old``/``D_old`` the fact/dim at the last folded versions and
    ``ΔF``/``ΔD`` their signed change feeds,

        Δ(F ⋈ D) = ΔF ⋈ D_new  +  F_old ⋈ ΔD

    (the cross term ``ΔF ⋈ ΔD`` is inside the first summand because it
    joins the NEW dim). The second summand is the expensive one at
    100 TB — it touches fact rows for the churned dim keys — so the
    fact snapshot is read through :func:`.bloom_index.bloom_lookup`:
    committed min/max stats prune a fact clustered on the join key,
    the bloom sidecar index prunes a scattered one, and an unindexed
    fact degrades to a full (still one-job) scan filtered by the
    broadcast dim churn. Dim churn cost is therefore O(fact files
    claiming the churned keys), never O(fact).

    Retention interaction: the fold reads the source's per-commit
    added/removed files for ``(last, head]``, so
    :func:`.table_format.vacuum` on the SOURCE must retain at least the
    versions since the view's last refresh (refresh first, vacuum
    second) — the same contract Delta's CDF has with its retention
    period.
    """
    state = rollup_state(view_root)
    src_root, keys, sum_cols = state["src_root"], state["keys"], state["sum_cols"]
    minmax_cols = state["minmax_cols"]
    dim = state.get("dim")
    dim_head = tfmt.latest_version(dim["root"]) if dim else None
    dim_advanced = dim is not None and dim_head > dim["version"]
    head = tfmt.latest_version(src_root)
    if head <= state["src_version"] and not dim_advanced:
        return tfmt.latest_version(view_root)
    # all NEW-state reads (fact feed enrichment, extremum recompute)
    # join the dim at ITS new head — the ΔF ⋈ D_new summand.
    new_state = (
        state if not dim else {**state, "dim": {**dim, "version": dim_head}}
    )

    k0 = keys[0]
    driver = _driver_delta(state, head)
    if driver is not None:
        import pyarrow.compute as pc

        delta, feed_rows = driver
        lo_hi = pc.min_max(delta[k0]).as_py()
        b = {"n": delta.num_rows, "lo": lo_hi["min"], "hi": lo_hi["max"],
             "has_null": delta[k0].null_count}
    else:
        delta, b = _spark_delta(spark, state, new_state, head, dim_head)
    ivm_rec = {"src_version": head}
    if dim is not None:
        ivm_rec["dim_version"] = dim_head
    # the versions this plan folds FROM — if a racing refresh moves the
    # view past this point, the pinned delta overlaps what it applied
    # and replaying it would double-count (see _plan_stale).
    planned = (
        state["src_version"],
        dim["version"] if dim else None,
    )
    if b["n"] == 0:
        # nothing changed group-wise; still record the fold so the next
        # refresh doesn't replay these source versions.
        return _commit_noop_fold(
            spark, view_root, ivm_rec, planned, max_retries=max_retries
        )
    # file [min,max] stats ignore NULLs, so a churned NULL-key group can
    # live in ANY file — pruning is only sound when no delta key is NULL.
    bounds = (
        None
        if b["lo"] is None or b["has_null"]
        else (tfmt._json_stat(b["lo"]), tfmt._json_stat(b["hi"]))
    )

    meta = tfmt._table_meta(view_root)
    delta_df = None if driver is not None else delta
    for _ in range(max_retries):
        if _already_folded(view_root, ivm_rec):
            return tfmt.latest_version(view_root)  # racing refresh won
        if _plan_stale(view_root, planned):
            # a racing refresh folded a DIFFERENT (smaller) prefix: our
            # delta starts at the OLD folded version, so applying it on
            # the racer's snapshot would re-add the overlap. Rebuild the
            # whole plan from the view's new state — bounded, because
            # every such race means the racer made monotone progress.
            return refresh_rollup(spark, view_root, max_retries=max_retries)
        base_v = tfmt.latest_version(view_root)
        live, schema = tfmt.snapshot_files(view_root, base_v)
        if bounds is not None:
            cands, _rest = tfmt._candidate_files(live, {k0: bounds}, k0)
        else:
            cands = live
        st = StructType.fromJson(schema)
        v = base_v + 1
        if driver is not None and not any("dv" in a for a in cands) and (
            feed_rows + sum(a["rows"] for a in cands) <= tfmt._DRIVER_ROWS
        ):
            adds = _driver_apply(
                view_root, cands, delta, keys, sum_cols, st, v,
                meta["stat_cols"],
            )
        else:
            if delta_df is None:  # an Arrow delta the driver cannot apply
                delta_df = spark.createDataFrame(delta)
            old = tfmt.read_files(spark, view_root, cands, st)
            merged = _apply_delta(
                old, delta_df, keys, sum_cols, minmax_cols, st,
                lambda rec_keys: _recompute_groups(
                    spark, new_state, head, rec_keys, keys, sum_cols,
                    minmax_cols,
                ),
            )
            adds = tfmt._write_data_files(merged, view_root, v,
                                          meta["stat_cols"])
        try:
            tfmt._write_commit(
                view_root,
                v,
                {
                    "version": v,
                    "action": "ivm_refresh",
                    "add": adds,
                    "remove": [a["path"] for a in cands],
                    "schema": None,
                    "ivm": ivm_rec,
                },
            )
        except tfmt.CommitConflict:
            continue  # orphans reclaimed by vacuum; re-plan on new state
        tfmt._maybe_checkpoint(view_root, v, meta.get("checkpoint_every", 10))
        return v
    raise tfmt.CommitConflict(f"refresh lost {max_retries} races at {view_root}")


def _spark_delta(spark, state, new_state, head, dim_head):
    """The signed per-group delta as a pinned Spark frame, plus its
    size and leading-key bounds: one shuffle over the source change feed
    (and, for star rollups, the dim churn feed)."""
    src_root, keys, sum_cols = state["src_root"], state["keys"], state["sum_cols"]
    minmax_cols = state["minmax_cols"]
    dim = state.get("dim")
    feeds = []
    if head > state["src_version"]:
        feeds.append(
            _with_dim(
                spark,
                new_state,
                tfmt.table_changes(spark, src_root, state["src_version"], head),
            )
        )
    if dim is not None and dim_head > dim["version"]:
        feeds.append(_dim_churn_feed(spark, state, dim_head))
    changes = feeds[0]
    for extra in feeds[1:]:
        changes = changes.unionByName(extra)
    deleted = F.col("_change_type") == "deleted"
    sign = F.when(deleted, F.lit(-1)).otherwise(F.lit(1))
    aggs = [F.sum(sign).alias("_d_n")]
    for c in sum_cols:
        aggs.append(
            F.sum(
                sign * _widen(F.col(c), changes.schema[c].dataType)
            ).alias(f"_d_sum_{c}")
        )
        aggs.append(
            F.sum(sign * F.col(c).isNotNull().cast("long")).alias(f"_d_nn_{c}")
        )
    for c in minmax_cols:
        aggs.append(F.min(F.when(~deleted, F.col(c))).alias(f"_d_ins_min_{c}"))
        aggs.append(F.max(F.when(~deleted, F.col(c))).alias(f"_d_ins_max_{c}"))
        aggs.append(F.min(F.when(deleted, F.col(c))).alias(f"_d_del_min_{c}"))
        aggs.append(F.max(F.when(deleted, F.col(c))).alias(f"_d_del_max_{c}"))
    delta = changes.groupBy(*keys).agg(*aggs)
    # a group whose feed rows cancel exactly (an update that kept every
    # maintained quantity identical, or churn confined to NULL inputs)
    # is a no-op on the view; more importantly an empty feed (pure
    # compact/cluster commits) must not rewrite anything.
    delta = delta.filter(
        " OR ".join(
            ["_d_n <> 0"]
            + [
                f"coalesce(_d_sum_{c}, 0) <> 0 OR _d_nn_{c} <> 0"
                for c in sum_cols
            ]
            + [
                f"_d_ins_min_{c} IS NOT NULL OR _d_del_min_{c} IS NOT NULL"
                for c in minmax_cols
            ]
        )
    )
    # The bounds probe rides the delta pin (named observe; see
    # operators/_obs.py for why not pyspark Observation), so the pin
    # and the probe are one action rather than a pin plus a separate
    # agg job over the checkpointed delta.
    k0 = keys[0]
    return checkpoint_with_metrics(  # CDF replay is iterative; pin it
        delta,
        "ivm_delta_bounds",
        F.count(F.lit(1)).alias("n"),
        F.min(k0).alias("lo"),
        F.max(k0).alias("hi"),
        F.max(F.col(k0).isNull().cast("int")).alias("has_null"),
    )


def _group_sum(tbl, keys: list[str]):
    """Sum every non-key column of the Arrow table ``tbl`` per group of
    ``keys``, keeping the column names. Arrow's hash grouping puts NULL
    keys in one group, as Spark's ``groupBy`` and the null-safe join of
    :func:`_apply_delta` do."""
    vals = [c for c in tbl.column_names if c not in keys]
    out = tbl.group_by(keys).aggregate([(c, "sum") for c in vals])
    return out.select(keys + [f"{c}_sum" for c in vals]).rename_columns(
        keys + vals
    )


def _driver_delta(state: dict, head: int):
    """The signed per-group delta of the source commits
    ``(last, head]`` built on the driver with Arrow, with the row count
    of the files read for it — or ``None`` when the Spark fold must
    build it. The columns are :func:`_spark_delta`'s. Exact, like the
    Spark fold, because the gate admits only:

    - no dim (a star rollup's feed is a join) and no MIN/MAX column
      (its fold needs group-confined source recomputes);
    - group keys whose Arrow equality and order are Spark's
      (``table_format._driver_exact``);
    - integral and decimal measures, summed in ``decimal128(38, scale)``
      as :func:`_widen` sums them: an integer sum is exact in any
      order, a float sum depends on the order;
    - a range of append, merge-on-read, compaction and exact-restore
      commits, so each change unit reads alone (``_change_units``
      raises on a rewrite, whose survivors would have to be cancelled
      across files);
    - change units of at most ``table_format._DRIVER_ROWS`` file rows.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import DecimalType

    keys, sum_cols = state["keys"], state["sum_cols"]
    if state.get("dim") or state["minmax_cols"]:
        return None
    st = StructType.fromJson(tfmt.snapshot_files(state["src_root"], head)[1])
    if not all(tfmt._driver_exact(st[k].dataType) for k in keys) or not all(
        _is_integral(st[c].dataType) or isinstance(st[c].dataType, DecimalType)
        for c in sum_cols
    ):
        return None
    try:
        units = tfmt._change_units(state["src_root"], state["src_version"],
                                   head)
    except ValueError:
        return None
    feed_rows = sum(u.rows for u in units)
    if feed_rows > tfmt._DRIVER_ROWS:
        return None
    read = pa.schema([(c, to_arrow_type(st[c].dataType))
                      for c in dict.fromkeys(keys + sum_cols)])
    acc = {c: pa.decimal128(38, getattr(st[c].dataType, "scale", 0))
           for c in sum_cols}
    schema = pa.schema(
        [read.field(k) for k in keys] + [("_d_n", pa.int64())]
        + [f for c in sum_cols
           for f in ((f"_d_sum_{c}", acc[c]), (f"_d_nn_{c}", pa.int64()))]
    )
    parts = []
    for u in units:
        t = tfmt._read_change_unit(u, read)
        sign = -1 if u.deleted else 1
        cols = [t[k] for k in keys]
        cols.append(pa.array(np.full(t.num_rows, sign, dtype=np.int64)))
        for c in sum_cols:
            signed = (t[c].cast(acc[c]).fill_null(0),
                      pc.is_valid(t[c]).cast(pa.int64()))
            cols += [pc.negate(x) for x in signed] if u.deleted else signed
        parts.append(pa.table(cols, schema=schema))
    delta = _group_sum(pa.concat_tables(parts or [schema.empty_table()]), keys)
    # groups whose feed rows cancel exactly are no-ops on the view, as
    # in the Spark fold's filter
    changed = pc.not_equal(delta["_d_n"], 0)
    for c in sum_cols:
        changed = pc.or_(changed, pc.or_(
            pc.not_equal(delta[f"_d_sum_{c}"], pa.scalar(0, acc[c])),
            pc.not_equal(delta[f"_d_nn_{c}"], 0),
        ))
    return delta.filter(changed), feed_rows


def _driver_apply(view_root, cands, delta, keys, sum_cols, st, version,
                  stat_cols) -> list[dict]:
    """:func:`_apply_delta` on the driver for an Arrow ``delta`` from
    :func:`_driver_delta`: the candidate view rows (files without a
    deletion vector) join the delta as one more set of signed rows, one
    Arrow group-by sums both, and the groups left with rows are written
    as one parquet file. Returns the file's add-entries."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(st)
    view_cols = {"n_rows": "_d_n"}
    for c in sum_cols:
        view_cols[_sum(c)] = f"_d_sum_{c}"
        view_cols[_nn(c)] = f"_d_nn_{c}"
    old = [
        tfmt._read_change_unit(
            tfmt.ChangeUnit("insert", os.path.join(view_root, a["path"]),
                            version),
            target,
        )
        for a in cands
    ]
    old = pa.concat_tables(old or [target.empty_table()])
    old = pa.table(
        [old[k].cast(delta.schema.field(k).type) for k in keys]
        + [old[v].cast(delta.schema.field(d).type).fill_null(0)
           for v, d in view_cols.items()],
        schema=delta.schema,
    )
    new = _group_sum(pa.concat_tables([old, delta]), keys)
    new = new.filter(pc.greater(new["_d_n"], 0))
    cols = {k: new[k] for k in keys}
    cols["n_rows"] = new["_d_n"]
    for c in sum_cols:
        nn, total = new[f"_d_nn_{c}"], new[f"_d_sum_{c}"]
        cols[_nn(c)] = nn
        # a group whose non-null inputs all departed sums to NULL
        cols[_sum(c)] = pc.if_else(pc.greater(nn, 0), total,
                                   pa.scalar(None, total.type))
    return tfmt._write_arrow_file(
        pa.table([cols[f.name].cast(f.type) for f in target], schema=target),
        view_root, version, st, stat_cols,
    )


def _already_folded(view_root: str, ivm_rec: dict) -> bool:
    """True when a racing refresh has already folded everything this
    refresh planned to fold (fact head AND, for star rollups, dim
    head) — applying our delta on top would double-count it."""
    st = rollup_state(view_root)
    if st["src_version"] < ivm_rec["src_version"]:
        return False
    if "dim_version" in ivm_rec:
        return st["dim"]["version"] >= ivm_rec["dim_version"]
    return True


def _plan_stale(view_root: str, planned: tuple) -> bool:
    """True when the view's folded state has MOVED since this plan's
    delta was built (a racing refresh folded a partial prefix): the
    delta's base no longer equals the view's folded version, so
    applying it would double-count the overlap — the caller must
    rebuild from fresh state, not retry."""
    st = rollup_state(view_root)
    if st["src_version"] != planned[0]:
        return True
    return planned[1] is not None and st["dim"]["version"] != planned[1]


def _commit_noop_fold(
    spark, view_root: str, ivm_rec: dict, planned: tuple, *,
    max_retries: int = 3,
) -> int:
    """Record a fold that changed no groups. The staleness check
    matters even here: "delta over (S, H] is empty" does NOT imply the
    sub-range (S', H] is empty for S < S' — if a racer folded (S, S']
    first, marking H folded would silently skip the compensating
    (S', H] feed, so rebuild instead."""
    for _ in range(max_retries):
        if _already_folded(view_root, ivm_rec):
            return tfmt.latest_version(view_root)  # racing refresh won
        if _plan_stale(view_root, planned):
            return refresh_rollup(spark, view_root, max_retries=max_retries)
        v = tfmt.latest_version(view_root) + 1
        try:
            tfmt._write_commit(
                view_root,
                v,
                {
                    "version": v,
                    "action": "ivm_refresh",
                    "add": [],
                    "remove": [],
                    "schema": None,
                    "ivm": ivm_rec,
                },
            )
            return v
        except tfmt.CommitConflict:
            continue
    raise tfmt.CommitConflict(f"noop fold lost {max_retries} races at {view_root}")


def maintained_sink(
    src_root: str,
    view_roots: list[str],
    *,
    key_col: str | None = None,
    merge_mode: str = "cow",
):
    """``foreachBatch`` function composing the exactly-once lakehouse
    sink with downstream view maintenance — the bronze→silver medallion
    hop in one micro-batch: each batch lands in the source table
    (append, or CDC merge with ``key_col``), then every rollup view in
    ``view_roots`` folds the resulting change feed forward. Crash-safe
    at both layers: a replayed batch id is a no-op in the source commit
    log (:func:`.table_format.committed_batch_ids`), and a refresh that
    already folded the source head is a no-op by the ``src_version``
    guard — so the pipeline is idempotent end-to-end under Structured
    Streaming's at-least-once ``foreachBatch`` contract.

    Usage::

        q = (df.writeStream
               .foreachBatch(maintained_sink(src, [view]))
               .option("checkpointLocation", ckpt).start())
    """
    base = tfmt.streaming_sink(src_root, key_col=key_col,
                               merge_mode=merge_mode)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        base(batch_df, batch_id)
        for vr in view_roots:
            refresh_rollup(batch_df.sparkSession, vr)

    return _sink


def _recompute_groups(
    spark, spec, src_version, rec_keys, keys, sum_cols, minmax_cols
) -> DataFrame:
    """Group-confined recompute for deletes that may displace a stored
    MIN/MAX: re-aggregate ONLY the flagged groups from the source
    snapshot AT THE FOLDED VERSION (snapshot isolation keeps this
    correct under concurrent source writers). The flagged-key set is
    churn-bounded and broadcast; on a source clustered by the group key
    the semi-join's runtime filter prunes the scan further. Star
    rollups re-join the dimension at the version being folded TO
    (``spec`` carries the new dim pin), so the recomputed groups land
    in the same final state as the incremental ones."""
    src = _with_dim(
        spark, spec, tfmt.read_table(spark, spec["src_root"], version=src_version)
    )
    cond = [src[k].eqNullSafe(rec_keys[k]) for k in keys]
    confined = src.join(F.broadcast(rec_keys), cond, "left_semi")
    return _rollup_frame(confined, keys, sum_cols, minmax_cols)


def _apply_delta(old: DataFrame, delta, keys, sum_cols, minmax_cols, st, recompute_fn) -> DataFrame:
    """Merge signed per-group deltas into the candidate slice of the
    view: untouched groups pass through, touched groups are re-derived,
    groups reaching n_rows == 0 disappear, brand-new groups appear.
    Null-safe on the group keys (a NULL key is a real group).

    MIN/MAX columns are not self-maintainable under deletes: inserts
    fold as ``least/greatest``, but a delete at-or-beyond the stored
    extremum flags the group for ``recompute_fn`` (group-confined source
    re-aggregation); groups whose deletes stay strictly inside the
    stored [min, max] fold incrementally like everything else."""
    cond = [old[k].eqNullSafe(delta[k]) for k in keys]
    kept = old.join(F.broadcast(delta.select(*keys)), cond, "left_anti")
    # NO broadcast hint on `old` here: delta is the preserved side, and
    # a broadcast-hash join cannot build on the preserved side — hinting
    # old forces the whole candidate view slice (the FULL view when key
    # pruning is disabled, e.g. a NULL-key delta) through the driver.
    # Unhinted, AQE broadcasts old only when it is actually small and
    # shuffles otherwise — churn-proportional at every view size.
    joined = delta.join(old, cond, "left")
    typed = {f.name: f.dataType for f in st.fields}

    def z(col, name):  # typed zero-coalesce keeps the stored schema stable
        return F.coalesce(col, F.lit(0).cast(typed[name]))

    cols = [delta[k].alias(k) for k in keys]
    new_n = z(old["n_rows"], "n_rows") + F.col("_d_n")
    cols.append(new_n.cast(typed["n_rows"]).alias("n_rows"))
    for c in sum_cols:
        s, nn = _sum(c), _nn(c)
        new_nn = z(old[nn], nn) + F.col(f"_d_nn_{c}")
        raw = z(old[s], s) + z(F.col(f"_d_sum_{c}"), s)
        cols.append(
            F.when(new_nn > 0, raw).otherwise(F.lit(None))
            .cast(typed[s])
            .alias(s)
        )
        cols.append(new_nn.cast(typed[nn]).alias(nn))
    unsafe = F.lit(False)
    for c in minmax_cols:
        mn, mx = f"min_{c}", f"max_{c}"
        dmn, dmx = F.col(f"_d_del_min_{c}"), F.col(f"_d_del_max_{c}")
        # a delete can only displace an extremum if it touches or passes
        # it; a group the view has never seen (old extrema NULL) with
        # deletes must have consumed same-fold inserts — recompute too.
        unsafe = unsafe | (
            dmn.isNotNull()
            & (old[mn].isNull() | (dmn <= old[mn]) | (dmx >= old[mx]))
        )
        cols.append(
            F.least(old[mn], F.col(f"_d_ins_min_{c}"))
            .cast(typed[mn]).alias(mn)
        )
        cols.append(
            F.greatest(old[mx], F.col(f"_d_ins_max_{c}"))
            .cast(typed[mx]).alias(mx)
        )
    updated = joined.select(*cols, unsafe.alias("_unsafe")).filter(
        F.col("n_rows") > 0
    )
    if minmax_cols:
        # The unsafe-group probe rides the pin action (named observe;
        # see operators/_obs.py), so the split needs no separate
        # isEmpty() job on the frame it has just pinned.
        updated, m = checkpoint_with_metrics(  # split reuses it
            updated,
            "ivm_unsafe_probe",
            F.count(F.when(F.col("_unsafe"), 1)).alias("n_unsafe"),
        )
        safe = updated.filter(~F.col("_unsafe")).drop("_unsafe")
        rec_keys = updated.filter(F.col("_unsafe")).select(*keys)
        if m["n_unsafe"] == 0:  # insert-only/interior churn: no recompute
            updated = safe
        else:
            recomputed = recompute_fn(rec_keys).select(
                *[F.col(f.name).cast(typed[f.name]).alias(f.name)
                  for f in st.fields]
            )
            updated = safe.unionByName(recomputed)
    else:
        updated = updated.drop("_unsafe")
    return kept.unionByName(updated).select([f.name for f in st.fields])
