"""The driver fold of ``refresh_rollup`` (operators/ivm.py): a small
merge-on-read change feed is summed with Arrow and merged into the
view's candidate files on the driver, with no Spark job.

* Differential: over a seeded chain of MoR merges, deletes (one of them
  removing a file that already carries a deletion vector) and updates,
  appends, compactions and restores, the driver-folded view equals the
  Spark-folded view of the same commits and a ``_rollup_frame``
  recompute, row for row and with identical Spark types, and the stats
  committed for each driver-written file equal its parquet footer and a
  Spark aggregate over it.
* Fallback matrix: every case the gate refuses takes the Spark fold and
  still equals a recompute.
* Physical pruning proof: corrupted view files outside the churned key
  range are never opened by the driver fold.
* Crash point: a refresh killed between its view file write and its
  commit leaves the last committed view readable, the next refresh
  folds the range once, and ``vacuum`` removes only the orphan.
"""

from __future__ import annotations

import datetime
import os
import random
import subprocess
import sys
import textwrap
from decimal import Decimal

import pytest

from pyspark.sql import Row, functions as F
from pyspark.sql.types import StructType

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
    ivm,
    table_format as tf,
)

_GROUPS = {
    "int": ("int", lambda i: i),
    # unicode (a 4-byte code point too), the empty string, and strings
    # whose byte order differs from their code-unit order
    "string": ("string", lambda i: ["", "a", "ä", "b", "z", "日本",
                                    "\U0001F600", "a b", "ab", "é"][i % 10]
               + ("" if i < 10 else f"-{i}")),
    "date": ("date", lambda i: datetime.date(2021, 1, 1)
             + datetime.timedelta(days=3 * i)),
}
_SUMS = ["i", "l", "d"]


def _ddl(kind):
    return f"id long, g {_GROUPS[kind][0]}, i int, l long, d decimal(12,2)"


def _null_last(t):
    return tuple((v is None, v) for v in t)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=_null_last)


def _types(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


class _Spy:
    """Counts the calls of module functions while delegating to them."""

    def __init__(self, monkeypatch, *names):
        self.calls = dict.fromkeys(names, 0)
        for name in names:
            real = getattr(ivm, name)

            def wrapped(*a, _real=real, _name=name, **k):
                self.calls[_name] += 1
                return _real(*a, **k)

            monkeypatch.setattr(ivm, name, wrapped)


def _driver_file_matches(spark, view, version):
    """Each file a driver fold wrote reads back in Spark with the view's
    types (from the Spark schema in its footer), and the stats committed
    for it equal its parquet footer (``_footer_adds``) and a Spark
    aggregate over it."""
    for a in tf._read_commit(view, version)["add"]:
        rel = os.path.dirname(a["path"])
        assert tf._footer_adds(os.path.join(view, rel), rel, ["g"]) == [a]
        written = spark.read.parquet(os.path.join(view, a["path"]))
        assert _types(written) == _types(tf.read_table(spark, view))
        r = written.agg(
            F.count(F.lit(1)).alias("n"), F.min("g").alias("lo"),
            F.max("g").alias("hi"),
        ).collect()[0]
        assert a["rows"] == r["n"]
        assert a["stats"]["g"] == [tf._json_stat(r["lo"]),
                                   tf._json_stat(r["hi"])]


@pytest.mark.parametrize("kind", sorted(_GROUPS))
def test_driver_fold_equals_spark_fold_and_recompute(spark, tmp_path,
                                                     monkeypatch, kind):
    rng = random.Random(7 + len(kind))
    group = _GROUPS[kind][1]
    ddl = _ddl(kind)
    model: dict[int, tuple] = {}

    def row(i, g):
        return (
            i,
            None if rng.random() < 0.05 else group(g),
            None if rng.random() < 0.15 else rng.randrange(-5, 6),
            None if rng.random() < 0.15
            else rng.choice([rng.randrange(-99, 100), 4 * 10**18]),
            None if rng.random() < 0.15
            else Decimal(rng.randrange(-10**5, 10**5)) / 100,
        )

    def frame(rows):
        return spark.createDataFrame(rows, ddl)

    src = str(tmp_path / "src")
    views = {"driver": str(tmp_path / "vd"), "spark": str(tmp_path / "vs")}
    first = [row(i, i % 6) for i in range(120)]
    model.update((r[0], r) for r in first)
    tf.create_table(frame(first).repartition(3), src, stat_cols=["id"])
    for view in views.values():
        ivm.create_rollup(spark, src, view, keys=["g"], sum_cols=_SUMS)
        # several view files, so the delta's key range prunes some
        tf.optimize_cluster(spark, view, ["g"], target_files=3)
    spy = _Spy(monkeypatch, "_driver_apply")
    versions = {0: dict(model)}
    next_id, next_group = 120, 6
    ops = ["merge", "drop_batch", "cancel", "delete", "drop_group", "update",
           "append", "merge", "compact", "merge", "restore", "delete", "merge"]
    for op in ops:
        ids = sorted(model)
        if op == "merge":  # edits (some move group), new rows, new groups
            batch = [row(i, rng.randrange(next_group + 1))
                     for i in rng.sample(ids, 6)]
            batch += [row(next_id + j, next_group) for j in range(3)]
            next_id, next_group = next_id + 3, next_group + 1
            # one file, so that drop_batch masks part of it first
            tf.merge_upsert(frame(batch).coalesce(1), src, key_col="id",
                            mode="mor")
            model.update((r[0], r) for r in batch)
            merged = [r[0] for r in batch]
        elif op == "drop_batch":  # the merged file: masked, then removed
            for part in (merged[:4], merged[4:]):
                tf.delete_where(spark, src,
                                f"id IN ({', '.join(map(str, part))})",
                                prune_col="id", mode="mor")
                for i in part:
                    del model[i]
        elif op == "cancel":  # re-merged unchanged rows: the delta cancels
            batch = [model[i] for i in rng.sample(ids, 4)]
            tf.merge_upsert(frame(batch), src, key_col="id", mode="mor")
        elif op == "delete":
            gone = rng.sample(ids, 8)
            tf.delete_where(spark, src, f"id IN ({', '.join(map(str, gone))})",
                            prune_col="id", mode="mor")
            for i in gone:
                del model[i]
        elif op == "drop_group":  # a group falls to zero rows
            g = model[rng.choice(ids)][1]
            gone = [i for i, r in model.items() if r[1] == g]
            tf.delete_where(spark, src, f"id IN ({', '.join(map(str, gone))})",
                            prune_col="id", mode="mor")
            for i in gone:
                del model[i]
        elif op == "update":
            hit = rng.sample(ids, 5)
            tf.update_where(
                spark, src, f"id IN ({', '.join(map(str, hit))})",
                {"i": "coalesce(i, 0) + 1", "l": "NULL"},
                prune_col="id", mode="mor",
            )
            for i in hit:
                r = model[i]
                model[i] = (r[0], r[1], (r[2] or 0) + 1, None, r[4])
        elif op == "append":
            batch = [row(next_id + j, rng.randrange(next_group + 1))
                     for j in range(10)]
            next_id += 10
            tf.append(frame(batch), src)
            model.update((r[0], r) for r in batch)
        elif op == "compact":
            tf.compact(spark, src)
        else:  # restore a version after the compaction: an exact restore
            back = max(v for v in versions if v < tf.latest_version(src))
            tf.restore_table(src, back)
            model = dict(versions[back])
        versions[tf.latest_version(src)] = dict(model)

        before = spy.calls["_driver_apply"]
        v_driver = ivm.refresh_rollup(spark, views["driver"])
        with monkeypatch.context() as m:
            m.setattr(ivm, "_driver_delta", lambda *a, **k: None)
            ivm.refresh_rollup(spark, views["spark"])
        if spy.calls["_driver_apply"] > before:
            _driver_file_matches(spark, views["driver"], v_driver)
        snapshot = tf.read_table(spark, src)
        assert sorted(map(tuple, snapshot.collect()), key=_null_last) == (
            sorted(model.values(), key=_null_last)
        ), op
        want = ivm._rollup_frame(snapshot, ["g"], _SUMS)
        got = {n: tf.read_table(spark, v) for n, v in views.items()}
        assert _types(got["driver"]) == _types(got["spark"]) == _types(want)
        assert _rows(got["driver"]) == _rows(got["spark"]) == _rows(want), op
    # every refresh wrote on the driver but the two no-op folds: the
    # cancelling merge and the compaction
    assert spy.calls["_driver_apply"] == len(ops) - 2


def _typed(df, key_type, measure):
    return df.withColumns({"g": F.col("g").cast(key_type),
                           "val": F.col("val").cast(measure)})


def _src(spark, root, rows=60, key_type="long", measure="long",
         null_key_every=0):
    df = spark.createDataFrame(
        [Row(k=i,
             g=None if null_key_every and i % null_key_every == 0 else i % 5,
             val=i * 2) for i in range(rows)],
        "k long, g long, val long",
    )
    tf.create_table(_typed(df, key_type, measure), root, stat_cols=["k"])


def _batch(spark, lo, hi, key_type="long", measure="long"):
    df = spark.createDataFrame(
        [Row(k=i, g=i % 7, val=i) for i in range(lo, hi)],
        "k long, g long, val long",
    )
    return _typed(df, key_type, measure)


def _recompute_equal(spark, src, view, keys=("g",), sum_cols=("val",),
                     minmax_cols=()):
    want = ivm._rollup_frame(tf.read_table(spark, src), list(keys),
                             list(sum_cols), list(minmax_cols))
    assert _rows(tf.read_table(spark, view)) == _rows(want)


def _dv_view_file(spark, view):
    """A deletion vector on a view file that leaves the view unchanged:
    a mor update masks a row and appends an identical copy."""
    tf.update_where(spark, view, "g = 1", {"n_rows": "n_rows"}, mode="mor")
    assert any("dv" in a for a in tf.snapshot_files(view)[0])


_CASES = {
    # case: (source options, the change after the rollup's creation,
    #        rollup options, whether the delta's build is refused too)
    "cow_merge": (None, lambda s, src: tf.merge_upsert(
        _batch(s, 50, 70), src, key_col="k", mode="cow"), {}, True),
    "cow_delete": (None, lambda s, src: tf.delete_where(
        s, src, "k < 20", prune_col="k"), {}, True),
    "double_key": ({"key_type": "double"}, lambda s, src: tf.merge_upsert(
        _batch(s, 50, 70, key_type="double"), src, key_col="k",
        mode="mor"), {}, True),
    "double_measure": ({"measure": "double"}, lambda s, src: tf.merge_upsert(
        _batch(s, 50, 70, measure="double"), src, key_col="k",
        mode="mor"), {}, True),
    "minmax": (None, lambda s, src: tf.merge_upsert(
        _batch(s, 50, 70), src, key_col="k", mode="mor"),
        {"minmax_cols": ["val"]}, True),
    "dv_view_file": (None, lambda s, src: tf.merge_upsert(
        _batch(s, 50, 70), src, key_col="k", mode="mor"), {}, False),
    "feed_above_driver_rows": (None, lambda s, src: tf.merge_upsert(
        _batch(s, 50, 70), src, key_col="k", mode="mor"), {}, True),
    "view_above_driver_rows": (None, lambda s, src: tf.merge_upsert(
        _batch(s, 50, 70), src, key_col="k", mode="mor"), {}, False),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_refused_cases_take_the_spark_fold(spark, tmp_path, monkeypatch,
                                           case):
    setup, change, opts, refused_build = _CASES[case]
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    _src(spark, src, **(setup or {}))
    ivm.create_rollup(spark, src, view, keys=["g"], sum_cols=["val"], **opts)
    if case == "dv_view_file":
        _dv_view_file(spark, view)
    change(spark, src)
    spy = _Spy(monkeypatch, "_spark_delta", "_apply_delta", "_driver_apply")
    if case == "feed_above_driver_rows":
        monkeypatch.setattr(tf, "_DRIVER_ROWS", 10)
    elif case == "view_above_driver_rows":
        # the feed (the batch plus the files it displaced rows from)
        # fits; the feed plus the candidate view rows does not
        units = tf._change_units(src, 0, tf.latest_version(src))
        monkeypatch.setattr(tf, "_DRIVER_ROWS", sum(u.rows for u in units))
    ivm.refresh_rollup(spark, view)
    monkeypatch.undo()
    assert spy.calls == {"_spark_delta": int(refused_build),
                         "_apply_delta": 1, "_driver_apply": 0}
    _recompute_equal(spark, src, view, minmax_cols=opts.get("minmax_cols", ()))


def test_star_rollup_takes_the_spark_fold(spark, tmp_path, monkeypatch):
    fact, dim, view = (str(tmp_path / n) for n in ("fact", "dim", "view"))
    tf.create_table(
        spark.createDataFrame([Row(k=i, fk=i % 4, val=i) for i in range(40)],
                              "k long, fk long, val long"),
        fact, stat_cols=["k"],
    )
    tf.create_table(
        spark.createDataFrame([Row(fk=i, dname=f"D{i}") for i in range(4)],
                              "fk long, dname string"),
        dim, stat_cols=["fk"],
    )
    ivm.create_rollup(spark, fact, view, keys=["dname"], sum_cols=["val"],
                      dim_root=dim, dim_join_key="fk")
    tf.merge_upsert(
        spark.createDataFrame([Row(k=i, fk=(i + 1) % 4, val=-i)
                               for i in range(30, 50)],
                              "k long, fk long, val long"),
        fact, key_col="k", mode="mor",
    )
    spy = _Spy(monkeypatch, "_spark_delta", "_apply_delta", "_driver_apply")
    ivm.refresh_rollup(spark, view)
    assert spy.calls == {"_spark_delta": 1, "_apply_delta": 1,
                         "_driver_apply": 0}
    want = (tf.read_table(spark, fact)
            .join(tf.read_table(spark, dim), "fk")
            .groupBy("dname").agg(F.count(F.lit(1)), F.sum("val")))
    assert _rows(ivm.read_rollup(spark, view)) == _rows(want)


def test_null_group_key_is_folded_on_the_driver(spark, tmp_path,
                                                monkeypatch):
    """Arrow's group-by puts NULL keys in one group, Spark's null-safe
    equality, so a NULL group key stays on the driver path; it only
    turns off view-file pruning."""
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    _src(spark, src, null_key_every=4)
    ivm.create_rollup(spark, src, view, keys=["g"], sum_cols=["val"])
    tf.merge_upsert(
        spark.createDataFrame([Row(k=i, g=None if i % 3 else i % 7, val=i)
                               for i in range(50, 70)],
                              "k long, g long, val long"),
        src, key_col="k", mode="mor",
    )
    tf.delete_where(spark, src, "k < 9", prune_col="k", mode="mor")
    spy = _Spy(monkeypatch, "_spark_delta", "_apply_delta", "_driver_apply")
    ivm.refresh_rollup(spark, view)
    assert spy.calls == {"_spark_delta": 0, "_apply_delta": 0,
                         "_driver_apply": 1}
    _recompute_equal(spark, src, view)


def test_mor_refresh_never_reads_pruned_view_files(spark, tmp_path,
                                                   monkeypatch):
    """The driver fold's physical churn-proportionality proof: the view
    files outside a MoR delete's key range are corrupted on disk, and
    the refresh succeeds without opening them and carries them."""
    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    rows = [Row(k=i, g=i // 100, seg="A", val=i) for i in range(1000)]
    tf.create_table(
        spark.createDataFrame(rows, "k long, g long, seg string, val long"),
        src,
        stat_cols=["k"],
    )
    ivm.create_rollup(spark, src, view, keys=["g"], sum_cols=["val"])
    tf.optimize_cluster(spark, view, ["g"], target_files=5)
    live, _ = tf.snapshot_files(view)
    untouched = [
        a for a in live
        if a["stats"]["g"][0] is not None and a["stats"]["g"][1] < 8
    ]
    assert untouched, "clustering should give files with max g < 8"
    before = {a["path"] for a in untouched}
    for a in untouched:
        with open(os.path.join(view, a["path"]), "wb") as f:
            f.write(b"NOT A PARQUET FILE")
    tf.delete_where(spark, src, "k >= 850", prune_col="k", mode="mor")
    spy = _Spy(monkeypatch, "_driver_apply")
    v = ivm.refresh_rollup(spark, view)
    assert spy.calls["_driver_apply"] == 1
    live1, _ = tf.snapshot_files(view, v)
    assert before <= {a["path"] for a in live1}  # carried by reference
    assert before.isdisjoint(tf._read_commit(view, v)["remove"])
    # the rewritten files hold the churned groups as a recompute has them
    st = StructType.fromJson(tf.snapshot_files(view, v)[1])
    kept = [a for a in live1 if a["path"] not in before]
    got = {r["g"]: (r["n_rows"], r["sum_val"])
           for r in tf.read_files(spark, view, kept, st).collect()}
    want = {r["g"]: (r["n_rows"], r["sum_val"]) for r in ivm._rollup_frame(
        tf.read_table(spark, src), ["g"], ["val"]).collect()}
    assert 9 not in got and got[8] == (50, sum(range(800, 850)))
    assert got == {g: want[g] for g in got}


def _orphans(root):
    live = set()
    for v in range(tf.latest_version(root) + 1):
        live.update(a["path"] for a in tf.snapshot_files(root, v)[0])
    found = set()
    for dirpath, _dirs, files in os.walk(os.path.join(root, "data")):
        for f in files:
            if f.endswith(".parquet"):
                found.add(os.path.relpath(os.path.join(dirpath, f), root))
    return found - live


def test_driver_fold_crash_before_commit(spark, tmp_path):
    """A refresh process killed after its view file is written and
    before its commit is linked: readers see the last committed view,
    the next refresh folds the range exactly once, and ``vacuum``
    removes only the orphaned file."""
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    _src(spark, src, key_type="string")
    ivm.create_rollup(spark, src, view, keys=["g"], sum_cols=["val"])
    tf.merge_upsert(_batch(spark, 40, 90, key_type="string"), src,
                    key_col="k", mode="mor")
    committed = _rows(ivm.read_rollup(spark, view))
    head = tf.latest_version(view)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = textwrap.dedent(f"""
        import os
        from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
            ivm, table_format as tf)

        def crash(root, version, record):
            os._exit(17)

        tf._write_commit = crash
        ivm.refresh_rollup(None, {view!r})  # the driver fold needs no session
        os._exit(0)
    """)
    env = {**os.environ,
           "PYTHONPATH": os.pathsep.join(
               [repo, os.environ.get("PYTHONPATH", "")])}
    proc = subprocess.run([sys.executable, "-c", child], env=env, cwd=repo,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 17, proc.stderr
    orphans = _orphans(view)
    assert len(orphans) == 1, orphans
    assert tf.latest_version(view) == head
    assert _rows(ivm.read_rollup(spark, view)) == committed
    assert tf.vacuum(view, retain_versions=head) == sorted(orphans)
    v = ivm.refresh_rollup(spark, view)
    assert v == head + 1
    assert ivm.rollup_state(view)["src_version"] == tf.latest_version(src)
    _recompute_equal(spark, src, view)
