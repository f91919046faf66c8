"""Lakehouse table-format (operators/table_format.py) behavior tests.

The module re-expresses the Delta/Iceberg metadata layer on plain
parquet (the jars are absent from this container — ROADMAP item 2):
O_EXCL commit log, snapshot time travel, checkpointed replay,
stats-pruned copy-on-write MERGE/DELETE, OPTIMIZE compaction, vacuum,
and an exactly-once streaming foreachBatch sink.

The pruning proofs here are physical, not statistical: a file that the
stats say cannot match is OVERWRITTEN WITH GARBAGE before the operation
— if the engine ever opened it, parquet footer parsing would throw.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import Row, functions as F

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
    table_format as tf,
)


def _mk(spark, lo, hi, seg="A"):
    return spark.createDataFrame(
        [Row(k=i, seg=seg, val=float(i) * 1.5) for i in range(lo, hi)]
    )


def _counts(spark, root, version=None):
    df = tf.read_table(spark, root, version=version)
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum("k").alias("s")
    ).collect()[0]
    return (r["n"], r["s"])


def test_create_append_read_and_history(spark, tmp_path):
    root = str(tmp_path / "t")
    v0 = tf.create_table(_mk(spark, 0, 100), root, stat_cols=["k"])
    assert v0 == 0
    with pytest.raises(FileExistsError):
        tf.create_table(_mk(spark, 0, 1), root)
    v1 = tf.append(_mk(spark, 100, 150, seg="B"), root)
    assert v1 == 1
    assert _counts(spark, root) == (150, sum(range(150)))
    hist = tf.history(root)
    assert [h["action"] for h in hist] == ["create", "append"]
    assert hist[1]["rows_added"] == 50


def test_time_travel_every_version(spark, tmp_path):
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 10), root, stat_cols=["k"])
    tf.append(_mk(spark, 10, 20), root)
    tf.delete_where(spark, root, "k < 5", prune_col="k")
    assert _counts(spark, root, version=0) == (10, sum(range(10)))
    assert _counts(spark, root, version=1) == (20, sum(range(20)))
    assert _counts(spark, root, version=2) == (15, sum(range(5, 20)))
    assert _counts(spark, root) == (15, sum(range(5, 20)))
    with pytest.raises(ValueError):
        tf.read_table(spark, root, version=3)


def test_checkpointed_replay(spark, tmp_path):
    """More commits than checkpoint_every: a checkpoint file exists and
    replay from it matches full-log replay at head AND at a pre-
    checkpoint historical version."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 5), root, stat_cols=["k"], checkpoint_every=3)
    for i in range(1, 8):
        tf.append(_mk(spark, 5 * i, 5 * (i + 1)), root)
    ckpts = [
        f
        for f in os.listdir(os.path.join(root, "_log"))
        if f.endswith(".checkpoint.json")
    ]
    assert ckpts, "no checkpoint written despite 8 commits @ every 3"
    assert _counts(spark, root) == (40, sum(range(40)))
    # historical read below the newest checkpoint still replays correctly
    assert _counts(spark, root, version=2) == (15, sum(range(15)))


def test_merge_upsert_prunes_untouched_files(spark, tmp_path):
    """Files outside the update batch's key range are carried by
    reference: same path entries, byte-identical content — proven by
    corrupting them and still reading the table (only via commit
    metadata) plus mtime equality."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 100).repartitionByRange(4, "k"), root,
                    stat_cols=["k"])
    live0, _ = tf.snapshot_files(root, 0)
    assert len(live0) == 4
    # narrow batch: key range [1,3] overlaps only the lowest range file
    updates = spark.createDataFrame(
        [Row(k=1, seg="Z", val=9.9), Row(k=3, seg="Z", val=8.8)]
    )
    before = {
        a["path"]: os.path.getmtime(os.path.join(root, a["path"]))
        for a in live0
    }
    v = tf.merge_upsert(updates, root, key_col="k")
    assert v == 1
    live1, _ = tf.snapshot_files(root, 1)
    carried = [a["path"] for a in live1 if a["path"] in before]
    rewritten = [a["path"] for a in live1 if a["path"] not in before]
    assert len(carried) == 3, f"expected 3 carried files, got {carried}"
    assert rewritten
    for p in carried:  # byte-identical: untouched on disk
        assert os.path.getmtime(os.path.join(root, p)) == before[p]
    # out-of-range key inserts without touching existing files
    v2 = tf.merge_upsert(
        spark.createDataFrame([Row(k=200, seg="N", val=7.7)]),
        root, key_col="k",
    )
    live2, _ = tf.snapshot_files(root, v2)
    assert {a["path"] for a in live1} <= {a["path"] for a in live2}
    rows = {
        r["k"]: (r["seg"], r["val"])
        for r in tf.read_table(spark, root).collect()
    }
    assert rows[1] == ("Z", 9.9) and rows[3] == ("Z", 8.8)
    assert rows[200] == ("N", 7.7)
    assert rows[2] == ("A", 3.0)  # untouched neighbor intact
    assert len(rows) == 101


def test_merge_upsert_rejects_duplicate_source_keys(spark, tmp_path):
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 10), root, stat_cols=["k"])
    dup = spark.createDataFrame([Row(k=1, seg="A", val=1.0),
                                 Row(k=1, seg="B", val=2.0)])
    with pytest.raises(ValueError, match="unique source keys"):
        tf.merge_upsert(dup, root, key_col="k")


def test_delete_where_never_reads_pruned_files(spark, tmp_path):
    """Physical pruning proof: corrupt every file whose stats exclude
    the predicate range; delete_where must still succeed (it never
    opens them) and they stay carried by reference."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 100).repartitionByRange(4, "k"), root,
                    stat_cols=["k"])
    live, _ = tf.snapshot_files(root, 0)
    prunable = [
        a for a in live
        if a["stats"]["k"][0] is not None and a["stats"]["k"][0] > 30
    ]
    assert prunable, "range partitioning should give files with min>30"
    for a in prunable:
        with open(os.path.join(root, a["path"]), "wb") as f:
            f.write(b"NOT A PARQUET FILE")
    v = tf.delete_where(spark, root, "k <= 10", prune_col="k")
    assert v == 1
    live1, _ = tf.snapshot_files(root, 1)
    carried = {a["path"] for a in live1}
    for a in prunable:
        assert a["path"] in carried


def test_delete_where_match_detection_carries_unmatched(spark, tmp_path):
    """A candidate file read but containing no matches is carried by
    reference (not rewritten), and non-prunable predicates still
    delete correctly."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 40).repartitionByRange(4, "k"), root,
                    stat_cols=["k"])
    # a predicate matching nothing commits nothing (files read but all
    # carried by reference — the single-job match-detection path)
    assert tf.delete_where(spark, root, "seg = 'NOPE'") == 0
    # modulo predicate: no sound k-range => every file is a candidate
    v = tf.delete_where(spark, root, "k % 10 = 0", prune_col="k")
    assert v == 1
    n, s = _counts(spark, root)
    assert n == 36 and s == sum(i for i in range(40) if i % 10)


def test_extract_bounds():
    eb = tf._extract_bounds
    assert eb("k <= 10", "k") == (None, 10)
    assert eb("k > 5 AND k < 9", "k") == (5, 9)
    assert eb("k BETWEEN 3 AND 7", "k") == (3, 7)
    assert eb("k IN (4, 2, 9)", "k") == (2, 9)
    assert eb("10 >= k AND seg = 'A'", "k") == (None, 10)
    assert eb("k = 42", "k") == (42, 42)
    # unsound shapes must disable pruning
    assert eb("k % 10 = 0", "k") is None
    assert eb("k < 5 OR k > 90", "k") is None
    assert eb("NOT (k < 5)", "k") is None
    assert eb("seg = 'A'", "k") is None


def test_commit_race_one_winner_and_vacuum_reclaims(spark, tmp_path):
    """Two writers race for the same version: exactly one wins;
    merge_upsert retries and both batches land. A manually-provoked
    orphan is reclaimed by vacuum, but only once past min_age."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 20), root, stat_cols=["k"])
    # direct log race: same version, second writer conflicts
    tf._write_commit(root, 1, {"version": 1, "action": "append",
                               "add": [], "remove": [], "schema": None})
    with pytest.raises(tf.CommitConflict):
        tf._write_commit(root, 1, {"version": 1, "action": "append",
                                   "add": [], "remove": [], "schema": None})
    # merge retry path: stage an orphan exactly like a lost race does —
    # data files written for version 2 that never got committed
    orphan_adds = tf._write_data_files(
        _mk(spark, 100, 105), root, 2, ["k"]
    )
    assert orphan_adds
    v = tf.merge_upsert(
        spark.createDataFrame([Row(k=0, seg="W", val=0.0)]), root, key_col="k"
    )
    assert v == 2
    n, _ = _counts(spark, root)
    assert n == 20  # the orphan rows are invisible to readers
    # age guard: young orphans survive a guarded vacuum...
    assert tf.vacuum(root, retain_versions=99, min_age_seconds=3600) == []
    orphan_paths = [os.path.join(root, a["path"]) for a in orphan_adds]
    assert all(os.path.exists(p) for p in orphan_paths)
    # ...and an unguarded vacuum reclaims exactly the unreferenced set
    deleted = tf.vacuum(root, retain_versions=99)
    assert {os.path.join(root, d) for d in deleted} == set(orphan_paths)
    assert _counts(spark, root) == (n, sum(range(20)))


def test_vacuum_expires_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 10), root, stat_cols=["k"])
    tf.compact(spark, root, target_files=1)
    deleted = tf.vacuum(root, retain_versions=0)
    assert deleted  # version-0 files reclaimed
    assert _counts(spark, root) == (10, sum(range(10)))
    with pytest.raises(Exception):
        tf.read_table(spark, root, version=0).count()


def test_compact_is_data_identical(spark, tmp_path):
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 30).repartition(6), root, stat_cols=["k"])
    v = tf.compact(spark, root, target_files=1)
    live, _ = tf.snapshot_files(root, v)
    assert len(live) == 1
    assert tf.table_diff(spark, root, 0, v).count() == 0


def test_compact_small_rewrites_only_small_files(spark, tmp_path):
    """Size-tiered OPTIMIZE: right-sized files are carried by reference
    (physically proven via mtime), the small-file tail merges into one
    commit, and the result is data-identical. Below min_files: no-op."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 5000).coalesce(1), root, stat_cols=["k"])
    big = tf.snapshot_files(root, 0)[0][0]
    big_path = os.path.join(root, big["path"])
    big_size = os.path.getsize(big_path)
    for lo in range(5000, 5060, 20):  # three small appends
        tf.append(_mk(spark, lo, lo + 20, seg="S").coalesce(1), root)
    before_mtime = os.path.getmtime(big_path)
    # threshold chosen so the initial file counts as right-sized
    v = tf.compact_small(spark, root, target_bytes=big_size, min_files=2)
    assert v == 4
    live, _ = tf.snapshot_files(root, v)
    assert big["path"] in {a["path"] for a in live}  # carried
    assert os.path.getmtime(big_path) == before_mtime
    assert len(live) == 2  # big + one merged small
    assert tf.table_diff(spark, root, 3, 4).isEmpty()  # data-identical
    assert _counts(spark, root) == (5060, sum(range(5060)))
    # all files right-sized now: no-op, no commit
    assert tf.compact_small(spark, root, target_bytes=big_size) == v


def test_table_diff_change_types(spark, tmp_path):
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 10), root, stat_cols=["k"])
    tf.merge_upsert(
        spark.createDataFrame([Row(k=5, seg="Z", val=0.0),
                               Row(k=77, seg="Z", val=0.0)]),
        root, key_col="k",
    )
    d = {
        (r["k"], r["change_type"])
        for r in tf.table_diff(spark, root, 0, 1).select("k", "change_type").collect()
    }
    assert d == {(5, "deleted"), (5, "inserted"), (77, "inserted")}


def test_schema_evolution_adds_null_column(spark, tmp_path):
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 5), root, stat_cols=["k"])
    wider = spark.createDataFrame([Row(k=100, seg="B", val=1.0, extra="x")])
    tf.append(wider, root)
    df = tf.read_table(spark, root)
    assert "extra" in df.columns
    got = {r["k"]: r["extra"] for r in df.collect()}
    assert got[100] == "x" and got[0] is None
    # narrowing guard: dropping or retyping an existing column raises
    # instead of silently rewriting the committed schema
    with pytest.raises(ValueError, match="dropped=\\['val'\\]"):
        tf.append(spark.createDataFrame([Row(k=1, seg="C", extra="y")]), root)
    with pytest.raises(ValueError, match="retyped=\\['val'\\]"):
        tf.append(
            spark.createDataFrame(
                [Row(k=1, seg="C", val="oops", extra="y")],
                "k long, seg string, val string, extra string",
            ),
            root,
        )


def test_optimize_cluster_enables_pruning(spark, tmp_path):
    """Keys scattered round-robin leave every file spanning the full
    range (stats prune nothing); after CLUSTER BY the ranges are
    near-disjoint and a narrow delete provably never opens the other
    files (corruption proof), while the data is byte-for-byte
    identical (empty diff)."""
    root = str(tmp_path / "t")
    # repartition(4) round-robins: every file spans ~the full key range
    tf.create_table(_mk(spark, 0, 200).repartition(4), root, stat_cols=["k"])
    live0, _ = tf.snapshot_files(root, 0)
    overlapping = [
        a for a in live0 if a["stats"]["k"][0] < 50 and a["stats"]["k"][1] > 150
    ]
    assert len(overlapping) == len(live0), "fixture: files must overlap"
    v = tf.optimize_cluster(spark, root, ["k"], target_files=4)
    assert tf.table_diff(spark, root, 0, v).count() == 0
    live1, _ = tf.snapshot_files(root, v)
    prunable = [a for a in live1 if a["stats"]["k"][0] > 20]
    assert len(prunable) >= 2, [a["stats"]["k"] for a in live1]
    for a in prunable:
        with open(os.path.join(root, a["path"]), "wb") as f:
            f.write(b"GARBAGE")
    v2 = tf.delete_where(spark, root, "k <= 10", prune_col="k")
    assert v2 == v + 1
    carried = {a["path"] for a in tf.snapshot_files(root, v2)[0]}
    assert all(a["path"] in carried for a in prunable)


def test_optimize_cluster_zorder_two_cols(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(k=i, seg=chr(65 + i % 5), val=float(i % 37)) for i in range(300)]
    )
    tf.create_table(df.repartition(4), root, stat_cols=["k", "val"])
    v = tf.optimize_cluster(spark, root, ["k", "val"], target_files=4)
    assert tf.table_diff(spark, root, 0, v).count() == 0
    live, _ = tf.snapshot_files(root, v)
    # Z-order: at least the k-ranges shrink vs full-span round-robin
    spans = [a["stats"]["k"][1] - a["stats"]["k"][0] for a in live]
    assert min(spans) < 299, spans


def test_table_changes_feed(spark, tmp_path):
    """CDF over a create→append→merge→delete lineage: per-commit
    inserted/deleted rows with version tags, churn-proportional (the
    carried files cancel: (C+A) ∸ (C+R) = A ∸ R)."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 10), root, stat_cols=["k"])
    tf.append(_mk(spark, 10, 13, seg="B"), root)                     # v1
    tf.merge_upsert(
        spark.createDataFrame([Row(k=5, seg="Z", val=0.0)]), root,
        key_col="k",
    )                                                                # v2
    tf.delete_where(spark, root, "k >= 11", prune_col="k")           # v3
    feed = tf.table_changes(spark, root, 0, 3)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in feed.collect()
    )
    assert got == sorted(
        [(1, "inserted", 10), (1, "inserted", 11), (1, "inserted", 12),
         (2, "deleted", 5), (2, "inserted", 5),
         (3, "deleted", 11), (3, "deleted", 12)]
    )
    # replaying a sub-range is deterministic
    sub = tf.table_changes(spark, root, 2, 3).collect()
    assert {(r["_change_type"], r["k"]) for r in sub} == {
        ("deleted", 11), ("deleted", 12)
    }
    with pytest.raises(ValueError):
        tf.table_changes(spark, root, 3, 3)


def test_streaming_sink_exactly_once_replay(spark, tmp_path):
    """foreachBatch sink: replaying a batch id (crash between table
    commit and stream checkpoint) is a no-op; distinct ids append."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 10), root, stat_cols=["k"])
    sink = tf.streaming_sink(root)
    sink(_mk(spark, 10, 15), 0)
    head = tf.latest_version(root)
    sink(_mk(spark, 10, 15), 0)  # replay — must not duplicate
    assert tf.latest_version(root) == head
    sink(_mk(spark, 15, 18), 1)
    assert _counts(spark, root) == (18, sum(range(18)))
    assert tf.committed_batch_ids(root) == {0, 1}


def test_streaming_sink_auto_compacts(spark, tmp_path):
    """compact_every folds the small-file tail into the stream: after
    batch N-1 of each window the live file count drops while the data
    and the batch-id ledger stay intact."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 10).coalesce(1), root, stat_cols=["k"])
    sink = tf.streaming_sink(root, compact_every=3)
    for b in range(6):
        sink(_mk(spark, 10 + b * 5, 15 + b * 5, seg="S").coalesce(1), b)
    live, _ = tf.snapshot_files(root)
    # without compaction: 1 + 6 = 7 files; two compactions fold the tail
    assert len(live) <= 2, [a["path"] for a in live]
    assert _counts(spark, root) == (40, sum(range(40)))
    assert tf.committed_batch_ids(root) == set(range(6))


def test_model_based_random_op_sequences(spark, tmp_path):
    """Model-based check: a deterministic pseudo-random sequence of
    append / merge_upsert / delete_where / compact / optimize_cluster
    against a plain python dict model — after every commit, EVERY
    version's snapshot must equal the model's history at that version.
    This is the property the whole format rests on: commits are
    linearizable and snapshots immutable."""
    import hashlib

    root = str(tmp_path / "t")
    model: dict[int, tuple] = {i: ("A", float(i)) for i in range(0, 30, 2)}
    history = [dict(model)]
    tf.create_table(
        spark.createDataFrame(
            [Row(k=k, seg=s, val=v) for k, (s, v) in sorted(model.items())]
        ).repartitionByRange(3, "k"),
        root,
        stat_cols=["k"],
    )

    def rnd(i: int, mod: int) -> int:
        return hashlib.md5(f"tf:{i}".encode()).digest()[0] % mod

    for step in range(12):
        op = rnd(step, 4)
        if op == 0:  # append fresh keys
            lo = 100 + step * 10
            rows = {k: ("B", float(k)) for k in range(lo, lo + 3)}
            tf.append(
                spark.createDataFrame(
                    [Row(k=k, seg=s, val=v) for k, (s, v) in sorted(rows.items())]
                ),
                root,
            )
            model.update(rows)
        elif op == 1:  # merge: update some existing + insert one new
            keys = sorted(model)[: 2 + rnd(step, 3)]
            newk = 500 + step
            rows = {k: ("U", float(step)) for k in keys}
            rows[newk] = ("N", float(step))
            tf.merge_upsert(
                spark.createDataFrame(
                    [Row(k=k, seg=s, val=v) for k, (s, v) in sorted(rows.items())]
                ),
                root,
                key_col="k",
                mode="mor" if rnd(step, 2) else "cow",
            )
            model.update(rows)
        elif op == 2 and len(model) > 1:  # range delete (prunable)
            thr = sorted(model)[len(model) // 2 - 1]
            committed = tf.delete_where(
                spark, root, f"k <= {thr}", prune_col="k",
                mode="mor" if rnd(step, 2) else "cow",
            )
            assert committed == len(history)  # thr ∈ model => must commit
            model = {k: v for k, v in model.items() if k > thr}
        else:  # layout ops (data-identical) or a RESTORE roll-forward
            r3 = rnd(step, 3)
            if r3 == 0:
                tf.compact(spark, root, target_files=2)
            elif r3 == 1:
                tf.optimize_cluster(spark, root, ["k"], target_files=3)
            else:
                target = rnd(step, len(history))
                tf.restore_table(root, target)
                model = dict(history[target])
        history.append(dict(model))
        assert tf.latest_version(root) == len(history) - 1
        # full history sweep on two checkpoints (per-version re-reads
        # are a job each; every step checks only the head)
        versions = (
            range(len(history))
            if step in (5, 11)
            else [len(history) - 1]
        )
        for v in versions:
            got = {
                r["k"]: (r["seg"], r["val"])
                for r in tf.read_table(spark, root, version=v).collect()
            }
            assert got == history[v], f"step {step} version {v}"


def test_lakehouse_datasource_batch_and_stream(spark, tmp_path):
    """spark.read / readStream format('lakehouse'): batch sees the live
    snapshot with writer-stamped _commit_version; the stream replays
    the log append-by-append (offset = version), raises on a
    file-removing commit by default, and proceeds with
    ignoreChanges=true."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.sources.lakehouse_stream import (
        register_lakehouse_source,
    )

    root = str(tmp_path / "t")
    tf.create_table(
        _mk(spark, 0, 10).repartitionByRange(2, "k"), root, stat_cols=["k"]
    )
    tf.append(_mk(spark, 10, 15, seg="B").coalesce(1), root)
    register_lakehouse_source(spark)

    batch = spark.read.format("lakehouse").option("path", root).load()
    got = {(r["k"], r["_commit_version"]) for r in batch.collect()}
    assert got == {(i, 0) for i in range(10)} | {(i, 1) for i in range(10, 15)}

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def _run(extra_opts=None):
        reader = spark.readStream.format("lakehouse").option("path", root)
        for k, v in (extra_opts or {}).items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    def _sunk():
        return {
            (r["k"], r["_commit_version"])
            for r in spark.read.parquet(out).collect()
        }

    _run()
    assert _sunk() == got
    # new commit → restart from the SAME checkpoint emits only the delta
    tf.append(_mk(spark, 15, 17, seg="C"), root)
    _run()
    assert _sunk() == got | {(15, 2), (16, 2)}
    # a rewriting commit poisons an append-only stream...
    tf.delete_where(spark, root, "k <= 1", prune_col="k")
    with pytest.raises(Exception, match="ignoreChanges|removes files"):
        _run()
    # ...and ignoreChanges=true re-emits the rewritten file whole
    _run({"ignoreChanges": "true"})
    re_emitted = _sunk() - got - {(15, 2), (16, 2)}
    assert re_emitted and all(v == 3 for _, v in re_emitted)
    ks = {k for k, _ in re_emitted}
    assert 0 not in ks and 1 not in ks  # deleted rows are gone
    assert ks & {2, 3, 4}  # kept rows of the rewritten file re-emitted


def test_streaming_sink_end_to_end_upsert(spark, tmp_path):
    """Real Structured Streaming leg: file source → availableNow →
    merge sink keyed on k; late rows overwrite earlier values and the
    batch ids land in the ledger."""
    root = str(tmp_path / "t")
    src = tmp_path / "src"
    src.mkdir()
    tf.create_table(_mk(spark, 0, 5), root, stat_cols=["k"])
    import json as _json

    with open(src / "b0.json", "w") as f:
        for k in (2, 7):
            f.write(_json.dumps({"k": k, "seg": "S", "val": 0.5}) + "\n")
    stream = spark.readStream.schema("k long, seg string, val double").json(
        str(src)
    )
    q = (
        stream.writeStream.foreachBatch(tf.streaming_sink(root, key_col="k"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["k"]: r["seg"] for r in tf.read_table(spark, root).collect()}
    assert rows[2] == "S" and rows[7] == "S" and rows[0] == "A"
    assert len(rows) == 6
    assert tf.committed_batch_ids(root)


# --------------------------------------------------------------------------
# deletion vectors (merge-on-read)


def test_delete_mor_masks_without_rewriting(spark, tmp_path):
    """mode="mor": matched rows disappear from every read path while
    the DATA FILE SET is byte-identical — only a tiny sidecar and a
    commit record are written. A second mor delete folds cumulatively
    (one sidecar per file, never a chain), and compact applies+clears
    the vectors with an empty version diff."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 100), root, stat_cols=["k"])
    files_v0 = {a["path"] for a in tf.snapshot_files(root, 0)[0]}
    v1 = tf.delete_where(spark, root, "k BETWEEN 10 AND 19", prune_col="k",
                         mode="mor")
    live1, _ = tf.snapshot_files(root, v1)
    assert {a["path"] for a in live1} == files_v0  # no rewrite
    assert any("dv" in a for a in live1)
    assert tf.read_table(spark, root).count() == 90
    assert tf.read_table(spark, root, version=0).count() == 100  # time travel
    # cumulative: second delete overlaps the same files
    v2 = tf.delete_where(spark, root, "k IN (5, 15, 25)", prune_col="k",
                         mode="mor")
    ks = {r["k"] for r in tf.read_table(spark, root).collect()}
    assert ks == set(range(100)) - set(range(10, 20)) - {5, 25}
    for a in tf.snapshot_files(root, v2)[0]:
        if "dv" in a:  # exactly one live sidecar per file
            assert a["dv"]["rows"] >= 1
    # compact applies and clears every vector, data-identically
    v3 = tf.compact(spark, root, target_files=2)
    assert all("dv" not in a for a in tf.snapshot_files(root, v3)[0])
    assert tf.table_diff(spark, root, v2, v3).count() == 0


def test_delete_mor_prunes_and_drops_fully_deleted_files(spark, tmp_path):
    """Stats pruning holds in mor mode (corrupted never-read proof) and
    a file whose every row matches is REMOVED outright, not DV'd."""
    root = str(tmp_path / "t")
    tf.create_table(
        spark.createDataFrame(
            [Row(k=i, seg="A", val=float(i)) for i in range(1000)]
        ).repartitionByRange(5, "k"),
        root,
        stat_cols=["k"],
    )
    live, _ = tf.snapshot_files(root)
    pruned = [a for a in live if a["stats"]["k"][1] < 400]
    assert pruned, "range partitioning should give files with max k < 400"
    for a in pruned:
        with open(os.path.join(root, a["path"]), "wb") as f:
            f.write(b"NOT A PARQUET FILE")
    hi_file = max(live, key=lambda a: a["stats"]["k"][0])
    lo_bound = hi_file["stats"]["k"][0]
    # delete the ENTIRE top file plus a sliver of its neighbor
    v = tf.delete_where(spark, root, f"k >= {lo_bound - 2}", prune_col="k",
                        mode="mor")
    live2, _ = tf.snapshot_files(root, v)
    assert hi_file["path"] not in {a["path"] for a in live2}  # dropped whole
    neighbor = [a for a in live2 if "dv" in a]
    assert len(neighbor) == 1 and neighbor[0]["dv"]["rows"] == 2
    # verify the neighbor's DV-applied content (the corrupted pruned
    # files can't be read back — that's the point of the proof)
    from pyspark.sql.types import StructType

    st = StructType.fromJson(tf.snapshot_files(root, v)[1])
    ks = {r["k"] for r in tf.read_files(spark, root, neighbor, st).collect()}
    assert max(ks) == lo_bound - 3  # the two sliver rows are masked
    assert lo_bound - 2 not in ks and lo_bound - 1 not in ks


def test_table_changes_dv_exact_once(spark, tmp_path):
    """The change feed reports each DV-deleted row exactly once: the dv
    commit emits only the NEWLY masked positions, and a later rewrite
    (cow delete / compact) of a DV'd file never re-reports them."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 60), root, stat_cols=["k"])
    v1 = tf.delete_where(spark, root, "k < 10", mode="mor")
    v2 = tf.delete_where(spark, root, "k >= 50", mode="mor")
    ch = tf.table_changes(spark, root, 0, v2)
    dels = sorted(r["k"] for r in ch.filter("_change_type = 'deleted'").collect())
    assert dels == list(range(10)) + list(range(50, 60))
    assert ch.filter("_change_type = 'inserted'").count() == 0
    # per-commit attribution
    by_v = {
        (r["_commit_version"], r["k"])
        for r in ch.select("_commit_version", "k").collect()
    }
    assert all(v == v1 for v, k in by_v if k < 10)
    assert all(v == v2 for v, k in by_v if k >= 50)
    # a compact (removes DV'd files, adds applied rewrite) cancels exactly
    v3 = tf.compact(spark, root, target_files=1)
    post = tf.table_changes(spark, root, v2, v3)
    assert post.count() == 0
    # cow delete after mor: only the cow-matched rows surface
    v4 = tf.delete_where(spark, root, "k = 20", mode="cow")
    ch2 = tf.table_changes(spark, root, v3, v4)
    assert [(r["k"], r["_change_type"]) for r in ch2.collect()] == [
        (20, "deleted")
    ]


def test_vacuum_retains_live_dv_sidecars(spark, tmp_path):
    """vacuum keeps the sidecars referenced by retained versions and
    reclaims superseded ones; reads stay correct afterwards."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 50), root, stat_cols=["k"])
    tf.delete_where(spark, root, "k < 5", mode="mor")
    live_a, _ = tf.snapshot_files(root)
    sidecar_a = next(a["dv"]["sidecar"] for a in live_a if "dv" in a)
    tf.delete_where(spark, root, "k < 8", mode="mor")  # supersedes sidecar_a
    removed = tf.vacuum(root, retain_versions=0)
    assert sidecar_a in removed  # superseded sidecar reclaimed
    live_b, _ = tf.snapshot_files(root)
    sidecar_b = next(a["dv"]["sidecar"] for a in live_b if "dv" in a)
    assert os.path.exists(os.path.join(root, sidecar_b))
    assert {r["k"] for r in tf.read_table(spark, root).collect()} == set(
        range(8, 50)
    )


def test_merge_upsert_respects_deletion_vectors(spark, tmp_path):
    """MERGE into a DV'd file must not resurrect masked rows: the
    candidate read applies the vector before the anti-join/union."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 20), root, stat_cols=["k"])
    tf.delete_where(spark, root, "k IN (3, 4)", mode="mor")
    tf.merge_upsert(
        spark.createDataFrame([Row(k=4, seg="Z", val=9.9)]), root, key_col="k"
    )
    rows = {r["k"]: r["seg"] for r in tf.read_table(spark, root).collect()}
    assert 3 not in rows          # stays deleted through the rewrite
    assert rows[4] == "Z"         # re-inserted by the merge
    assert len(rows) == 19


def test_datasource_reads_and_guards_dv(spark, tmp_path):
    """format("lakehouse") batch read masks DV rows worker-side (Arrow
    numpy mask); the streaming reader treats a dv commit as a change
    commit (raises without ignoreChanges, skips with it)."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.sources import (
        register_lakehouse_source,
    )

    register_lakehouse_source(spark)
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 40), root, stat_cols=["k"])
    v1 = tf.delete_where(spark, root, "k < 15", mode="mor")
    batch = spark.read.format("lakehouse").option("path", root).load()
    assert sorted(r["k"] for r in batch.collect()) == list(range(15, 40))
    # streaming: dv commit poisons an append-only stream
    stream = (
        spark.readStream.format("lakehouse").option("path", root).load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dv_guard")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="DV|ignoreChanges|removes"):
        q.awaitTermination(120)
        if q.exception():
            raise q.exception()
    # with ignoreChanges the dv commit is skipped and the stream lives
    q2 = (
        spark.readStream.format("lakehouse")
        .option("path", root)
        .option("ignoreChanges", "true")
        .load()
        .writeStream.format("memory")
        .queryName("dv_ok")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    n = spark.sql("SELECT count(*) n FROM dv_ok").collect()[0]["n"]
    assert n == 40  # v0 files re-emitted whole (downstream dedupes)


def test_restore_rolls_forward_with_exact_cdf(spark, tmp_path):
    """RESTORE TO VERSION: head becomes the target snapshot (including
    its DV state) via a metadata-only roll-forward commit; the change
    feed across the restore reports exactly the logical diff; restore
    past a vacuumed version raises."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 30), root, stat_cols=["k"])        # v0
    tf.append(_mk(spark, 30, 40, seg="B"), root)                     # v1
    tf.delete_where(spark, root, "k < 5", mode="mor")                # v2
    tf.delete_where(spark, root, "k >= 35", mode="cow")              # v3
    v4 = tf.restore_table(root, 1)
    assert _counts(spark, root) == (40, sum(range(40)))              # == v1
    # exact CDF: the restore re-inserts ONLY what v3 lacked vs v1
    ch = tf.table_changes(spark, root, 3, v4)
    ins = sorted(r["k"] for r in ch.filter("_change_type='inserted'").collect())
    assert ins == list(range(5)) + list(range(35, 40))
    assert ch.filter("_change_type='deleted'").count() == 0
    # restore forward again to the deleted state: deletes re-emerge
    v5 = tf.restore_table(root, 3)
    assert _counts(spark, root) == (30, sum(range(5, 35)))
    dels = sorted(
        r["k"]
        for r in tf.table_changes(spark, root, v4, v5)
        .filter("_change_type='deleted'")
        .collect()
    )
    assert dels == list(range(5)) + list(range(35, 40))
    # vacuum head-only, then restoring to a reclaimed version raises
    tf.vacuum(root, retain_versions=0)
    with pytest.raises(FileNotFoundError, match="vacuum reclaimed"):
        tf.restore_table(root, 1)


def test_delete_where_retries_on_commit_race(spark, tmp_path):
    """Optimistic concurrency: a competing commit landing between
    delete_where's plan and its commit loses exactly one race, and the
    retry re-plans on the fresh snapshot (both writes survive)."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 20), root, stat_cols=["k"])
    real_write = tf._write_commit
    raced = {"done": False}

    def racing_write(r, v, rec):
        if rec.get("action") == "delete" and not raced["done"]:
            raced["done"] = True
            real_write(r, v, {"version": v, "action": "append",
                              "add": [], "remove": [], "schema": None})
        real_write(r, v, rec)

    tf._write_commit = racing_write
    try:
        v = tf.delete_where(spark, root, "k < 3", mode="mor")
    finally:
        tf._write_commit = real_write
    assert v == 2  # v1 stolen by the racer, delete re-planned onto v2
    assert _counts(spark, root) == (17, sum(range(3, 20)))


def test_merge_mor_masks_and_appends_without_rewriting(spark, tmp_path):
    """DV-enabled MERGE: displaced rows are deletion-vector-masked and
    the batch lands as NEW files — every pre-existing data file is
    byte-identical afterwards (mtime proof), the change feed reports
    old versions deleted + batch inserted, and a chained mor DELETE
    folds cumulatively onto the merge's sidecar."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 100).repartitionByRange(4, "k"), root,
                    stat_cols=["k"])
    live0, _ = tf.snapshot_files(root, 0)
    before = {
        a["path"]: os.path.getmtime(os.path.join(root, a["path"]))
        for a in live0
    }
    updates = spark.createDataFrame(
        [Row(k=1, seg="Z", val=9.9), Row(k=3, seg="Z", val=8.8),
         Row(k=200, seg="N", val=7.7)]
    )
    v1 = tf.merge_upsert(updates, root, key_col="k", mode="mor")
    live1, _ = tf.snapshot_files(root, v1)
    # every original file still live AND physically untouched
    for p, mt in before.items():
        assert p in {a["path"] for a in live1}
        assert os.path.getmtime(os.path.join(root, p)) == mt
    rows = {r["k"]: (r["seg"], r["val"])
            for r in tf.read_table(spark, root).collect()}
    assert rows[1] == ("Z", 9.9) and rows[3] == ("Z", 8.8)
    assert rows[200] == ("N", 7.7) and rows[2] == ("A", 3.0)
    assert len(rows) == 101
    ch = tf.table_changes(spark, root, 0, v1)
    dels = sorted((r["k"], r["seg"]) for r in
                  ch.filter("_change_type='deleted'").collect())
    ins = sorted((r["k"], r["seg"]) for r in
                 ch.filter("_change_type='inserted'").collect())
    assert dels == [(1, "A"), (3, "A")]
    assert ins == [(1, "Z"), (3, "Z"), (200, "N")]
    # chained mor delete folds onto the SAME file's cumulative sidecar
    v2 = tf.delete_where(spark, root, "k IN (2, 3)", prune_col="k",
                         mode="mor")
    rows2 = {r["k"] for r in tf.read_table(spark, root).collect()}
    assert 2 not in rows2 and 3 not in rows2 and len(rows2) == 99
    dels2 = sorted((r["k"], r["seg"]) for r in
                   tf.table_changes(spark, root, v1, v2)
                   .filter("_change_type='deleted'").collect())
    # the CURRENT versions die: original "A" for k=2, merge "Z" for k=3
    assert dels2 == [(2, "A"), (3, "Z")]


def test_streaming_change_feed_exactness(spark, tmp_path):
    """readChangeFeed=true: the streamed row-level feed over a
    mor-mutation lineage (append, DV delete, DV merge, restore,
    compact) equals the batch-exact table_changes multiset plus the
    creation inserts; a copy-on-write commit and a compact-crossing
    restore each poison the CDF stream with a pointed error."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.sources import (
        register_lakehouse_source,
    )

    register_lakehouse_source(spark)
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 30), root, stat_cols=["k"])          # v0
    tf.append(_mk(spark, 30, 40, seg="B"), root)                       # v1
    tf.delete_where(spark, root, "k < 5", mode="mor")                  # v2
    tf.merge_upsert(
        spark.createDataFrame([Row(k=7, seg="U", val=1.0),
                               Row(k=99, seg="U", val=2.0)]),
        root, key_col="k", mode="mor",
    )                                                                  # v3
    v4 = tf.restore_table(root, 1)  # mor-only restore: un-deletes k<5
    tf.compact(spark, root, target_files=2)                            # v5
    head = tf.latest_version(root)

    q = (
        spark.readStream.format("lakehouse")
        .option("path", root)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("memory")
        .queryName("cdf_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["k"], r["seg"], r["_change_type"], r["_commit_version"])
        for r in spark.sql("SELECT * FROM cdf_stream").collect()
    )
    want = sorted(
        (r["k"], r["seg"], r["_change_type"], r["_commit_version"])
        for r in tf.table_changes(spark, root, 0, head).collect()
    ) + sorted(
        (r["k"], r["seg"], "inserted", 0)
        for r in tf.read_table(spark, root, version=0).collect()
    )
    assert got == sorted(want)
    # the restore streamed exactly the un-deletes + merge retractions
    at_restore = {g[:3] for g in got if g[3] == v4}
    assert at_restore == (
        # DV rows un-masked: the delete's k<5 AND the merge-displaced k=7
        {(k, "A", "inserted") for k in range(5)} | {(7, "A", "inserted")}
        | {(7, "U", "deleted"), (99, "U", "deleted")}  # merge batch out
    )
    # compact (v5) must contribute nothing
    assert not [g for g in got if g[3] == 5]

    def _run_cdf(name, starting):
        q2 = (
            spark.readStream.format("lakehouse")
            .option("path", root)
            .option("readChangeFeed", "true")
            .option("startingVersion", starting)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(180)
        if q2.exception():
            raise q2.exception()

    # cow commit breaks the stream contract with a pointed error
    tf.delete_where(spark, root, "k = 10", mode="cow")
    with pytest.raises(Exception, match="copy-on-write|mor"):
        _run_cdf("cdf_cow", 6)
    # a restore across the compact/cow rewrites is file-ambiguous too
    tf.restore_table(root, 3)
    with pytest.raises(Exception, match="across a rewrite"):
        _run_cdf("cdf_xrewrite", 7)


def test_timestamp_travel(spark, tmp_path):
    """TIMESTAMP AS OF: commits carry wall-clock stamps; reads resolve
    the newest version at-or-before a timestamp, with a running-max
    timeline that tolerates writer clock skew."""
    import json as _json
    import time

    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 10), root, stat_cols=["k"])
    t0 = time.time()
    time.sleep(0.05)
    tf.append(_mk(spark, 10, 20), root)
    t1 = time.time()
    time.sleep(0.05)
    tf.delete_where(spark, root, "k < 5", mode="mor")
    assert tf.version_at_timestamp(root, t0) == 0
    assert tf.version_at_timestamp(root, t1) == 1
    assert tf.read_table(spark, root, timestamp=t0).count() == 10
    assert tf.read_table(spark, root, timestamp=t1).count() == 20
    assert tf.read_table(spark, root, timestamp=time.time()).count() == 15
    with pytest.raises(ValueError, match="no commit at or before"):
        tf.version_at_timestamp(root, t0 - 3600)
    with pytest.raises(ValueError, match="not both"):
        tf.read_table(spark, root, version=1, timestamp=t1)
    assert all(h["ts"] is not None for h in tf.history(root))
    # clock skew: rewrite v1's stamp into the past — the running-max
    # timeline keeps resolution monotone (v1 inherits v0's effective ts)
    p = tf._commit_path(root, 1)
    rec = _json.load(open(p))
    rec["ts"] = rec["ts"] - 10_000
    _json.dump(rec, open(p, "w"))
    assert tf.version_at_timestamp(root, t1) == 1
    # the skewed commit inherits its predecessor's effective stamp, so
    # t0 (after v0's commit) now resolves PAST it — same rule as Delta
    assert tf.version_at_timestamp(root, t0) == 1


def test_sparse_key_value_pruning(spark, tmp_path):
    """Per-value stats overlap: a two-key IN delete / MERGE at the
    domain's ends must not open the files strictly between them —
    proven physically by corrupting every interior file."""
    root = str(tmp_path / "t")
    tf.create_table(
        spark.createDataFrame(
            [Row(k=i, seg="A", val=float(i)) for i in range(1000)]
        ).repartitionByRange(10, "k"),
        root,
        stat_cols=["k"],
    )
    live, _ = tf.snapshot_files(root)
    lows = min(a["stats"]["k"][0] for a in live if a["stats"]["k"][0] is not None)
    his = max(a["stats"]["k"][1] for a in live)
    interior = [
        a for a in live
        if a["stats"]["k"][0] is not None
        and a["stats"]["k"][0] > 5 and a["stats"]["k"][1] < 990
    ]
    assert len(interior) >= 6, "range layout should give interior files"
    for a in interior:
        with open(os.path.join(root, a["path"]), "wb") as f:
            f.write(b"NOT A PARQUET FILE")
    # hull [2, 995] spans everything; value set {2, 995} prunes interior
    v = tf.delete_where(spark, root, "k IN (2, 995)", prune_col="k",
                        mode="mor")
    assert v == 1
    # MERGE with two end keys likewise opens only the two end files
    v2 = tf.merge_upsert(
        spark.createDataFrame([Row(k=0, seg="Z", val=0.0),
                               Row(k=999, seg="Z", val=9.0)]),
        root, key_col="k", mode="mor",
    )
    assert v2 == 2
    live2, _ = tf.snapshot_files(root)
    assert {a["path"] for a in interior} <= {a["path"] for a in live2}
    # equality predicate uses the same value path
    v3 = tf.delete_where(spark, root, "k = 997", prune_col="k", mode="mor")
    assert v3 == 3


def test_compact_small_rewrites_dv_debt(spark, tmp_path):
    """A file whose deletion vector masks > max_dv_fraction of its rows
    is rewritten by compact_small regardless of file size (even alone),
    clearing the vector; lightly-masked files are carried."""
    root = str(tmp_path / "t")
    tf.create_table(
        spark.createDataFrame(
            [Row(k=i, seg="A", val=float(i)) for i in range(1000)]
        ).repartitionByRange(2, "k"),
        root,
        stat_cols=["k"],
    )
    # mask ~80% of the low file, ~1 row of the high file
    tf.delete_where(spark, root, "k < 400", prune_col="k", mode="mor")
    tf.delete_where(spark, root, "k = 980", prune_col="k", mode="mor")
    live, _ = tf.snapshot_files(root)
    heavy = [a for a in live if "dv" in a and a["dv"]["rows"] > 100]
    light = [a for a in live if "dv" in a and a["dv"]["rows"] <= 100]
    assert heavy and light
    # target_bytes=2: nothing qualifies as "small", only DV debt fires
    v = tf.compact_small(spark, root, target_bytes=2, max_dv_fraction=0.3)
    assert v == 3
    live2 = {a["path"]: a for a in tf.snapshot_files(root, v)[0]}
    assert heavy[0]["path"] not in live2          # rewritten, DV cleared
    assert light[0]["path"] in live2              # carried, still masked
    assert "dv" in live2[light[0]["path"]]
    ks = {r["k"] for r in tf.read_table(spark, root).collect()}
    assert ks == set(range(400, 1000)) - {980}


def test_medallion_mor_cdc_roundtrip(spark, tmp_path):
    """Capstone composition: a CDC stream lands in the table through
    the exactly-once mor merge sink; the streaming change feed is then
    consumed downstream and REPLAYED (apply deletes, then inserts, per
    commit) — the reconstructed state must equal the table head. This
    is the property that makes the CDF a real replication primitive:
    bronze → silver → downstream copy, all incremental."""
    import json as _json

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.sources import (
        register_lakehouse_source,
    )

    register_lakehouse_source(spark)
    root = str(tmp_path / "t")
    src = tmp_path / "src"
    src.mkdir()
    tf.create_table(_mk(spark, 0, 20), root, stat_cols=["k"])
    with open(src / "b0.json", "w") as f:
        for k, seg in ((3, "U1"), (25, "N1"), (7, "U1")):
            f.write(_json.dumps({"k": k, "seg": seg, "val": 0.5}) + "\n")
    q = (
        spark.readStream.schema("k long, seg string, val double")
        .json(str(src))
        .writeStream.foreachBatch(
            tf.streaming_sink(root, key_col="k", merge_mode="mor")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    tf.delete_where(spark, root, "k IN (1, 25)", prune_col="k", mode="mor")

    q2 = (
        spark.readStream.format("lakehouse")
        .option("path", root)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("memory")
        .queryName("medallion_cdf")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    # downstream replay: per commit, deletes retract then inserts apply
    changes = sorted(
        spark.sql("SELECT * FROM medallion_cdf").collect(),
        key=lambda r: (r["_commit_version"], r["_change_type"] == "inserted"),
    )
    state: dict = {}
    for r in changes:
        key = (r["k"], r["seg"], r["val"])
        if r["_change_type"] == "deleted":
            state[key] -= 1
            if not state[key]:
                del state[key]
        else:
            state[key] = state.get(key, 0) + 1
    want = {}
    for r in tf.read_table(spark, root).collect():
        key = (r["k"], r["seg"], r["val"])
        want[key] = want.get(key, 0) + 1
    assert state == want
    assert (3, "U1", 0.5) in state and (25, "N1", 0.5) not in state


def test_check_constraints_guard_every_write_path(spark, tmp_path):
    """Named CHECK constraints (Delta ADD CONSTRAINT): violations
    reject create/append/MERGE commits atomically with per-constraint
    counts; NULL expressions pass (SQL three-valued CHECK)."""
    root = str(tmp_path / "t")
    checks = {"val_nonneg": "val >= 0", "seg_known": "seg IN ('A', 'B')"}
    with pytest.raises(tf.CheckViolation, match="val_nonneg"):
        tf.create_table(
            spark.createDataFrame([Row(k=1, seg="A", val=-1.0)]),
            str(tmp_path / "bad"), checks=checks,
        )
    tf.create_table(_mk(spark, 0, 10), root, stat_cols=["k"], checks=checks)
    assert tf.table_checks(root) == checks
    # append: one batch with two violations names both constraints
    with pytest.raises(tf.CheckViolation) as ei:
        tf.append(
            spark.createDataFrame(
                [Row(k=20, seg="X", val=-2.0), Row(k=21, seg="A", val=1.0)]
            ),
            root,
        )
    assert "val_nonneg" in str(ei.value) and "seg_known" in str(ei.value)
    assert tf.latest_version(root) == 0  # nothing committed
    # NULL passes (unknown), valid rows commit
    tf.append(
        spark.createDataFrame(
            [Row(k=22, seg=None, val=None)], "k long, seg string, val double"
        ),
        root,
    )
    # MERGE batch enforced too, in both modes
    with pytest.raises(tf.CheckViolation):
        tf.merge_upsert(
            spark.createDataFrame([Row(k=1, seg="A", val=-9.0)]),
            root, key_col="k", mode="mor",
        )
    tf.merge_upsert(
        spark.createDataFrame([Row(k=1, seg="B", val=9.0)]),
        root, key_col="k",
    )
    rows = {r["k"]: r["seg"] for r in tf.read_table(spark, root).collect()}
    assert rows[1] == "B" and rows[22] is None and len(rows) == 11


def test_stream_starting_timestamp(spark, tmp_path):
    """startingTimestamp seats the stream at the first commit at or
    after the wall-clock point — earlier commits are not emitted."""
    import time

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.sources import (
        register_lakehouse_source,
    )

    register_lakehouse_source(spark)
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 10), root, stat_cols=["k"])
    time.sleep(0.05)
    mid = time.time()
    time.sleep(0.05)
    tf.append(_mk(spark, 10, 15, seg="B"), root)
    q = (
        spark.readStream.format("lakehouse")
        .option("path", root)
        .option("startingTimestamp", str(mid))
        .load()
        .writeStream.format("memory")
        .queryName("ts_seek")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ks = sorted(r["k"] for r in spark.sql("SELECT k FROM ts_seek").collect())
    assert ks == list(range(10, 15))  # only the post-timestamp append


def test_stream_starting_timestamp_past_head_raises(spark, tmp_path):
    """ADVICE r9: a startingTimestamp AFTER the latest commit must
    raise (Delta semantics) — a typo'd far-future timestamp would
    otherwise silently seat the stream at head and stream nothing.
    startingVersion past head keeps its distinct wait semantics
    (test_starting_version_past_head_waits_not_regresses)."""
    import time

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.sources import (
        register_lakehouse_source,
    )

    register_lakehouse_source(spark)
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 10), root, stat_cols=["k"])
    far_future = time.time() + 1_000_000
    q = (
        spark.readStream.format("lakehouse")
        .option("path", root)
        .option("startingTimestamp", str(far_future))
        .load()
        .writeStream.format("memory")
        .queryName("ts_future")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="after the latest commit"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()


def test_update_where_both_modes(spark, tmp_path):
    """UPDATE SET ... WHERE: expressions see the OLD row (swap works),
    cow rewrites only matched files, mor masks + appends with ZERO
    rewrite of existing files (mtime proof), CHECK constraints guard
    the updated rows, and the change feed (batch AND streaming CDF for
    mor) reports old versions deleted + new versions inserted."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.sources import (
        register_lakehouse_source,
    )

    register_lakehouse_source(spark)
    root = str(tmp_path / "t")
    tf.create_table(
        _mk(spark, 0, 100).repartitionByRange(4, "k"),
        root,
        stat_cols=["k"],
        checks={"val_finite": "val < 1e6"},
    )
    live0, _ = tf.snapshot_files(root, 0)
    mtimes = {
        a["path"]: os.path.getmtime(os.path.join(root, a["path"]))
        for a in live0
    }
    # cow: only the file(s) holding k<=5 rewritten
    v1 = tf.update_where(
        spark, root, "k <= 5", {"seg": "'LOW'", "val": "val * 10"},
        prune_col="k", mode="cow",
    )
    live1, _ = tf.snapshot_files(root, v1)
    carried = [p for p in mtimes if p in {a["path"] for a in live1}]
    assert len(carried) == 3  # 3 of 4 range files untouched
    rows = {r["k"]: (r["seg"], r["val"])
            for r in tf.read_table(spark, root).collect()}
    assert rows[5] == ("LOW", 75.0) and rows[6] == ("A", 9.0)
    assert len(rows) == 100
    # mor: swap-style update referencing the old row, zero rewrites
    pre = {
        a["path"]: os.path.getmtime(os.path.join(root, a["path"]))
        for a in tf.snapshot_files(root, v1)[0]
    }
    v2 = tf.update_where(
        spark, root, "k IN (50, 97)", {"val": "val + k"},
        prune_col="k", mode="mor",
    )
    for p, mt in pre.items():
        assert os.path.getmtime(os.path.join(root, p)) == mt
        assert p in {a["path"] for a in tf.snapshot_files(root, v2)[0]}
    rows = {r["k"]: r["val"] for r in tf.read_table(spark, root).collect()}
    assert rows[50] == 75.0 + 50 and rows[97] == 145.5 + 97
    assert len(rows) == 100
    # batch CDF: exactly one delete + one insert per updated key
    ch = tf.table_changes(spark, root, v1, v2)
    assert sorted(
        (r["k"], r["_change_type"], r["val"]) for r in ch.collect()
    ) == [(50, "deleted", 75.0), (50, "inserted", 125.0),
          (97, "deleted", 145.5), (97, "inserted", 242.5)]
    # CHECK on updated rows rejects the whole commit
    with pytest.raises(tf.CheckViolation, match="val_finite"):
        tf.update_where(spark, root, "k = 1", {"val": "1e7"}, mode="mor")
    assert tf.latest_version(root) == v2
    # streaming CDF accepts the mor update, raises on the cow one
    q = (
        spark.readStream.format("lakehouse")
        .option("path", root)
        .option("readChangeFeed", "true")
        .option("startingVersion", v2)
        .load()
        .writeStream.format("memory")
        .queryName("upd_cdf")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["k"], r["_change_type"])
        for r in spark.sql("SELECT * FROM upd_cdf").collect()
    )
    assert got == [(50, "deleted"), (50, "inserted"),
                   (97, "deleted"), (97, "inserted")]
    with pytest.raises(ValueError, match="copy-on-write update"):
        from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.sources.lakehouse_stream import (
            _cdf_partitions,
        )

        _cdf_partitions(root, 0, v1)  # range includes the cow update


def test_concurrent_writers_linearizable_history(spark, tmp_path):
    """TRUE multi-writer interleaving (VERDICT r7 #5): 4 threads each
    run an append / merge(cow) / merge(mor) / update / delete sequence
    over DISJOINT key ranges while a guarded vacuum races them.

    Disjoint ownership makes the final state interleaving-independent —
    it must equal the union of the per-writer models — while the
    interleaving itself is real: every writer's commits race every
    other's through the O_EXCL log and the optimistic-retry paths.
    Asserts (a) the version chain is contiguous with one commit per
    completed op (linearizable history, no lost or duplicated commits),
    (b) EVERY retained version is fully readable — zero orphan reads —
    and (c) the age-guarded vacuum never reclaims a young file."""
    import threading

    root = str(tmp_path / "t")
    n_writers = 4
    span = 1_000  # writer w owns keys [w*span, w*span + ...)
    seed_rows = [
        Row(k=w * span + i, seg=f"W{w}", val=float(i))
        for w in range(n_writers)
        for i in range(10)
    ]
    tf.create_table(
        spark.createDataFrame(seed_rows).repartition(2), root, stat_cols=["k"]
    )

    # per-writer expected final state, computed sequentially (ownership
    # is disjoint, so the concurrent outcome must match exactly)
    def expected(w: int) -> dict[int, tuple[str, float]]:
        base = w * span
        m = {base + i: (f"W{w}", float(i)) for i in range(10)}
        m.update({base + 10 + i: (f"A{w}", 1.0) for i in range(5)})  # append
        m.update({base + i: (f"M{w}", 2.0) for i in range(3)})  # merge cow
        m[base + 20] = (f"M{w}", 2.5)  # merge cow insert
        m.update({base + 3 + i: (f"R{w}", 3.0) for i in range(3)})  # merge mor
        m[base + 21] = (f"R{w}", 3.5)  # merge mor insert
        for k in m:  # update_where: val += 10 on k >= base+20 (own range)
            if base + 20 <= k <= base + 21:
                m[k] = (m[k][0], m[k][1] + 10.0)
        return {k: v for k, v in m.items() if not (base + 7 <= k <= base + 9)}

    errors: list[BaseException] = []
    ops_per_writer = 5

    def writer(w: int) -> None:
        base = w * span
        try:
            tf.append(
                spark.createDataFrame(
                    [Row(k=base + 10 + i, seg=f"A{w}", val=1.0) for i in range(5)]
                ),
                root,
                max_retries=30,
            )
            tf.merge_upsert(
                spark.createDataFrame(
                    [Row(k=base + i, seg=f"M{w}", val=2.0) for i in range(3)]
                    + [Row(k=base + 20, seg=f"M{w}", val=2.5)]
                ),
                root,
                key_col="k",
                mode="cow",
                max_retries=30,
            )
            tf.merge_upsert(
                spark.createDataFrame(
                    [Row(k=base + 3 + i, seg=f"R{w}", val=3.0) for i in range(3)]
                    + [Row(k=base + 21, seg=f"R{w}", val=3.5)]
                ),
                root,
                key_col="k",
                mode="mor",
                max_retries=30,
            )
            tf.update_where(
                spark,
                root,
                f"k >= {base + 20} AND k <= {base + 21}",
                {"val": "val + 10.0"},
                prune_col="k",
                mode="mor" if w % 2 else "cow",
                max_retries=30,
            )
            tf.delete_where(
                spark,
                root,
                f"k >= {base + 7} AND k <= {base + 9}",
                prune_col="k",
                mode="cow" if w % 2 else "mor",
                max_retries=30,
            )
        except BaseException as exc:  # noqa: BLE001 - surface to main thread
            errors.append(exc)

    stop = threading.Event()
    vacuum_results: list[list[str]] = []

    def guarded_vacuum() -> None:
        while not stop.is_set():
            vacuum_results.append(
                tf.vacuum(root, retain_versions=99, min_age_seconds=3600)
            )
            stop.wait(0.05)

    vt = threading.Thread(target=guarded_vacuum)
    vt.start()
    threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    stop.set()
    vt.join(timeout=60)
    assert not errors, f"writer failed: {errors[0]!r}"

    # (c) the age guard held: no young file was ever reclaimed
    assert all(r == [] for r in vacuum_results), vacuum_results

    # (a) linearizable history: contiguous versions, one commit per op
    head = tf.latest_version(root)
    assert head == n_writers * ops_per_writer
    hist = tf.history(root)
    assert [h["version"] for h in hist] == list(range(head + 1))
    from collections import Counter

    actions = Counter(h["action"] for h in hist)
    assert actions["create"] == 1
    assert actions["append"] == n_writers
    assert actions["merge"] == 2 * n_writers
    assert actions["update"] == n_writers
    assert actions["delete"] == n_writers

    # final state == union of per-writer sequential models
    want = {}
    for w in range(n_writers):
        want.update(expected(w))
    got = {
        r["k"]: (r["seg"], r["val"])
        for r in tf.read_table(spark, root).collect()
    }
    assert got == want

    # (b) zero orphan reads: every version's snapshot files all exist on
    # disk AND every snapshot is end-to-end readable (count() opens every
    # referenced file; with DVs masked the exact count varies by
    # interleaving, but an orphaned/reclaimed file would throw)
    for v in range(head + 1):
        live, _schema = tf.snapshot_files(root, v)
        for a in live:
            assert os.path.exists(os.path.join(root, a["path"])), (v, a["path"])
        upper = sum(a["rows"] for a in live)
        n = tf.read_table(spark, root, version=v).count()
        assert 0 < n <= upper, (v, n, upper)


def test_append_retry_reuses_staged_files(spark, tmp_path):
    """A blind append that loses the commit race retries in O(1): the
    already-staged data files are committed verbatim at the next
    version — no second data write (directory-count proof) — and both
    writers' rows survive."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 10), root, stat_cols=["k"])
    real_write = tf._write_commit
    raced = {"done": False}

    def racing_write(r, v, rec):
        if rec.get("action") == "append" and not raced["done"]:
            raced["done"] = True
            real_write(r, v, {"version": v, "action": "append",
                              "add": [], "remove": [], "schema": None})
        real_write(r, v, rec)

    data_root = os.path.join(root, "data")
    dirs_before = set(os.listdir(data_root))
    tf._write_commit = racing_write
    try:
        v = tf.append(_mk(spark, 10, 15, seg="B"), root)
    finally:
        tf._write_commit = real_write
    assert v == 2  # v1 stolen by the racer, commit re-stamped onto v2
    # exactly ONE new staging dir: the retry reused the staged files
    assert len(set(os.listdir(data_root)) - dirs_before) == 1
    assert _counts(spark, root) == (15, sum(range(15)))
    # the committed add-entries point at files that exist and are read
    live, _ = tf.snapshot_files(root, 2)
    for a in live:
        assert os.path.exists(os.path.join(root, a["path"]))


def test_footer_stats_equal_spark_agg(spark, tmp_path):
    """The footer fast path must be indistinguishable from the Spark
    read-back agg: identical add-entries (rows + min/max, including an
    all-NULL stat column) for gate-admitted types, and a clean fallback
    to the agg for excluded ones (float: NaN exclusion; string:
    truncation; timestamp: zone rendering)."""
    import datetime

    rows = [
        Row(k=i, flag=bool(i % 2),
            d=datetime.date(2020, 1, 1 + i % 20),
            only_null=None,
            f=float("nan") if i == 7 else i * 1.5,
            s="x" * 200 + chr(65 + i % 3))
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows,
        "k long, flag boolean, d date, only_null long, f double, s string",
    ).repartition(3)

    def both(stat_cols):
        out = str(tmp_path / f"d_{'_'.join(stat_cols)}")
        df.write.parquet(out)
        fast = tf._footer_adds(out, "rel", stat_cols)
        import pyspark.sql.functions as F

        written = spark.read.parquet(out)
        aggs = [F.count(F.lit(1)).alias("_rows")]
        for c in stat_cols:
            aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
        slow = sorted(
            (
                {
                    "path": os.path.join(
                        "rel",
                        os.path.basename(r["_file"].removeprefix("file:")),
                    ),
                    "rows": r["_rows"],
                    "stats": {
                        c: [tf._json_stat(r[f"_min_{c}"]),
                            tf._json_stat(r[f"_max_{c}"])]
                        for c in stat_cols
                    },
                }
                for r in written.groupBy(
                    F.input_file_name().alias("_file")
                ).agg(*aggs).collect()
            ),
            key=lambda a: a["path"],
        )
        return (sorted(fast, key=lambda a: a["path"])
                if fast is not None else None), slow

    fast, slow = both(["k", "flag", "d", "only_null"])
    assert fast == slow
    fast, slow = both(["s"])
    assert fast == slow
    for bad in (["f"], ["k", "f"]):
        fast, _slow = both(bad)
        assert fast is None, f"gate must reject {bad}"

    # end-to-end: a table whose stat col uses the footer path still
    # prunes correctly (physical proof borrowed from the delete tests)
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 100).repartitionByRange(4, "k"), root,
                    stat_cols=["k"])
    live, _ = tf.snapshot_files(root, 0)
    assert all(a["stats"]["k"][0] is not None for a in live)
    hi_files = [a for a in live if a["stats"]["k"][0] > 30]
    assert hi_files
    for a in hi_files:  # garbage the files the stats say can't match
        with open(os.path.join(root, a["path"]), "wb") as fh:
            fh.write(b"garbage")
    # the delete must prune on the footer-derived stats: opening any
    # garbaged file would throw a parquet footer error
    tf.delete_where(spark, root, "k < 10", prune_col="k")
    after, _ = tf.snapshot_files(root, 1)
    kept = {a["path"] for a in after}
    assert all(a["path"] in kept for a in hi_files)  # carried by reference


def _agg_adds(spark, out, rel, stat_cols):
    """The add-entries the Spark read-back agg records for ``out``."""
    written = spark.read.parquet(out)
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    return sorted(
        (
            {
                "path": os.path.join(
                    rel, os.path.basename(r["_file"].removeprefix("file:"))
                ),
                "rows": r["_rows"],
                "stats": {
                    c: [tf._json_stat(r[f"_min_{c}"]),
                        tf._json_stat(r[f"_max_{c}"])]
                    for c in stat_cols
                },
            }
            for r in written.groupBy(F.input_file_name().alias("_file"))
            .agg(*aggs).collect()
        ),
        key=lambda a: a["path"],
    )


def test_footer_string_stats_exact_or_fallback(spark, tmp_path):
    """String stat columns take the footer path and equal the Spark agg
    (unicode, empty strings, all-NULL files, a session-level truncate
    length); values past parquet's 4 KB stats limit, a non-binary
    collation, floats and timestamps fall back to the agg, so
    ``_write_data_files`` still records the agg's bounds for them."""
    import datetime

    uni = ["", "a", "Z", "é", "ß", "☃", "\U0001F600", "zz", "y" * 40 + "b"]
    rows = [
        (i, uni[i % len(uni)], "y" * 30 + chr(97 + i % 5),
         "B" if i % 2 else "a", "q" * 5000 if i == 3 else "short",
         None if i % 7 else "m", i * 0.5,
         datetime.datetime(2020, 1, 1, i % 24))
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows,
        "k long, u string, long_s string, ci string, big string, "
        "sparse string, f double, ts timestamp",
    ).withColumn("ci", F.expr("collate(ci, 'UTF8_LCASE')"))
    # one file holds only NULLs in `sparse`
    df = df.repartition(3, "k").union(
        df.filter("k = 0").withColumn("sparse", F.lit(None).cast("string"))
        .coalesce(1)
    )

    def footer_and_agg(cols):
        out = str(tmp_path / f"d_{'_'.join(cols)}")
        df.write.parquet(out)
        fast = tf._footer_adds(out, "rel", cols)
        return (sorted(fast, key=lambda a: a["path"])
                if fast is not None else None), _agg_adds(spark, out, "rel",
                                                          cols)

    fast, slow = footer_and_agg(["k", "u", "long_s", "sparse"])
    assert fast == slow
    assert [None, None] in [a["stats"]["sparse"] for a in fast]
    assert min(a["stats"]["u"][0] for a in fast) == ""
    assert max(a["stats"]["u"][1] for a in fast) == "\U0001F600"
    for bad in (["big"], ["ci"], ["f"], ["ts"], ["u", "ts"]):
        fast, _slow = footer_and_agg(bad)
        assert fast is None, f"gate must reject {bad}"

    # Through the table's writer: its write option keeps string min/max
    # exact under a session setting that truncates them, and the
    # fallback columns still get the agg's bounds.
    spark.conf.set("parquet.statistics.truncate.length", "8")
    try:
        plain = str(tmp_path / "plain")
        df.write.parquet(plain)
        truncated = tf._footer_adds(plain, "rel", ["long_s"])
        assert truncated != _agg_adds(spark, plain, "rel", ["long_s"])
        for cols in (["long_s", "u"], ["big"], ["ci"], ["f", "ts"]):
            root = str(tmp_path / f"t_{'_'.join(cols)}")
            adds = tf._write_data_files(df, root, 0, cols)
            rel = os.path.dirname(adds[0]["path"])
            assert adds == _agg_adds(
                spark, os.path.join(root, rel), rel, cols
            ), cols
    finally:
        spark.conf.unset("parquet.statistics.truncate.length")


def test_footer_stats_nested_schema_resolves_leaf(spark, tmp_path):
    """Parquet row-group column indices address LEAVES, not arrow's
    top-level fields: with a struct column ahead of the stat column the
    two numberings diverge, and the footer path must still commit the
    stat column's true bounds (r8 review finding — the naive field
    index would silently record the struct's second leaf as k's
    stats and prune unsoundly)."""
    df = spark.createDataFrame(
        [Row(meta=Row(a=900 + i, b=-5 - i), k=i) for i in range(50)],
        "meta struct<a:int,b:int>, k long",
    ).coalesce(1)
    out = str(tmp_path / "d")
    df.write.parquet(out)
    adds = tf._footer_adds(out, "rel", ["k"])
    assert adds is not None and len(adds) == 1
    assert adds[0]["stats"]["k"] == [0, 49]  # NOT meta.a's/meta.b's range
    # end-to-end: the committed table prunes correctly on k
    root = str(tmp_path / "t")
    tf.create_table(df.repartitionByRange(2, "k"), root, stat_cols=["k"])
    live, _ = tf.snapshot_files(root, 0)
    los = sorted(a["stats"]["k"][0] for a in live)
    assert los[0] == 0 and all(lo < 50 for lo in los)
    tf.delete_where(spark, root, "k < 5", prune_col="k")
    got = sorted(r["k"] for r in tf.read_table(spark, root).collect())
    assert got == list(range(5, 50))


def test_vacuum_removes_marker_only_dirs(spark, tmp_path):
    """A fully-vacuumed version dir holds only Spark's _SUCCESS/.crc
    markers; the empty-dir sweep must reclaim it (markers don't count
    as content), while the age guard still defers dirs that were
    touched inside the window."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 20), root, stat_cols=["k"])
    tf.compact(spark, root, target_files=1)
    data_root = os.path.join(root, "data")
    assert len(os.listdir(data_root)) == 2
    deleted = tf.vacuum(root, retain_versions=0)
    assert deleted  # v0's files were reclaimed...
    dirs = os.listdir(data_root)
    assert len(dirs) == 1, dirs  # ...and its marker-only dir dropped
    # guarded vacuum defers young marker-only dirs instead of racing
    tf.compact(spark, root, target_files=2)
    assert tf.vacuum(root, retain_versions=0, min_age_seconds=3600) == []
    assert len(os.listdir(data_root)) == 2  # young dir deferred, not dropped


def test_cow_delete_update_keep_null_predicate_rows(spark, tmp_path):
    """Three-valued logic: a row where the predicate evaluates to NULL
    is UNMATCHED — cow DELETE must keep it (NOT(NULL) would drop it)
    and cow UPDATE must pass it through unmodified; mor agrees."""
    for mode in ("cow", "mor"):
        root = str(tmp_path / f"t_{mode}")
        df = spark.createDataFrame(
            [Row(k=1, score=10.0), Row(k=2, score=None), Row(k=3, score=2.0)],
            "k long, score double",
        ).coalesce(1)
        tf.create_table(df, root, stat_cols=["k"])
        tf.delete_where(spark, root, "score > 5", mode=mode)
        got = sorted(
            (r["k"], r["score"])
            for r in tf.read_table(spark, root).collect()
        )
        assert got == [(2, None), (3, 2.0)], (mode, got)
        tf.update_where(
            spark, root, "score > 1", {"score": "score + 100"}, mode=mode
        )
        got = sorted(
            (r["k"], r["score"])
            for r in tf.read_table(spark, root).collect()
        )
        assert got == [(2, None), (3, 102.0)], (mode, got)


def test_merge_upsert_null_keys_are_inserts(spark, tmp_path):
    """NULL source keys never equi-match (SQL join semantics): an
    all-NULL-key batch must INSERT its rows (not silently no-op), two
    NULL-key rows are not 'duplicate keys', and existing NULL-key
    target rows survive a merge untouched."""
    root = str(tmp_path / "t")
    tf.create_table(
        spark.createDataFrame(
            [Row(k=1, v="a"), Row(k=None, v="oldnull")], "k long, v string"
        ),
        root,
        stat_cols=["k"],
    )
    for mode in ("cow", "mor"):
        tf.merge_upsert(
            spark.createDataFrame(
                [Row(k=None, v=f"null_{mode}_1"),
                 Row(k=None, v=f"null_{mode}_2")],
                "k long, v string",
            ),
            root,
            key_col="k",
            mode=mode,
        )
    got = sorted(r["v"] for r in tf.read_table(spark, root).collect())
    assert got == ["a", "null_cow_1", "null_cow_2", "null_mor_1",
                   "null_mor_2", "oldnull"]
    # mixed batch: the keyed row upserts, the NULL row inserts
    tf.merge_upsert(
        spark.createDataFrame(
            [Row(k=1, v="A2"), Row(k=None, v="null_mix")],
            "k long, v string",
        ),
        root,
        key_col="k",
    )
    got = sorted(r["v"] for r in tf.read_table(spark, root).collect())
    assert got == ["A2", "null_cow_1", "null_cow_2", "null_mix",
                   "null_mor_1", "null_mor_2", "oldnull"]


def test_pruning_ignores_comparators_inside_string_literals(spark, tmp_path):
    """`note = 'id > 100'` must not tighten id's bounds: the quoted
    text is data, not a predicate. Before the fix the extractor matched
    inside the literal, pruned the file, and the DELETE missed rows."""
    assert tf._extract_bounds("note = 'k > 100' AND k > 3", "k") == (3, None)
    assert tf._extract_in_values("note = 'k IN (9)' AND k = 4", "k") == [4]
    # string-valued bounds still extract (masking preserves literals)
    assert tf._extract_bounds("s >= 'b' AND s <= 'd'", "s") == ("b", "d")
    root = str(tmp_path / "t")
    tf.create_table(
        spark.createDataFrame(
            [Row(k=i, note="k > 100") for i in range(20)], "k long, note string"
        ).repartitionByRange(3, "k"),
        root,
        stat_cols=["k"],
    )
    tf.delete_where(
        spark, root, "note = 'k > 100' AND k > 3", prune_col="k"
    )
    got = sorted(r["k"] for r in tf.read_table(spark, root).collect())
    assert got == [0, 1, 2, 3]


def test_layout_ops_retry_on_commit_race(spark, tmp_path):
    """compact / compact_small / optimize_cluster / restore_table all
    re-plan on a lost commit race instead of propagating — a benign
    race must not kill a streaming query's compact_every hook."""
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 30).repartition(3), root, stat_cols=["k"])
    real_write = tf._write_commit

    def race_once(action):
        state = {"done": False}

        def racing(r, v, rec):
            if rec.get("action") == action and not state["done"]:
                state["done"] = True
                real_write(r, v, {"version": v, "action": "append",
                                  "add": [], "remove": [], "schema": None})
            real_write(r, v, rec)

        return racing

    tf._write_commit = race_once("compact")
    try:
        tf.compact(spark, root, target_files=2)
    finally:
        tf._write_commit = real_write
    assert _counts(spark, root) == (30, sum(range(30)))
    tf._write_commit = race_once("cluster")
    try:
        tf.optimize_cluster(spark, root, ["k"], target_files=2)
    finally:
        tf._write_commit = real_write
    assert _counts(spark, root) == (30, sum(range(30)))
    tf._write_commit = race_once("restore")
    try:
        tf.restore_table(root, 0)
    finally:
        tf._write_commit = real_write
    assert _counts(spark, root) == (30, sum(range(30)))


def test_batch_id_ledger_uses_checkpoint_suffix(spark, tmp_path):
    """committed_batch_ids consolidates into checkpoints: after a
    checkpointed history, the ledger is reconstructed from the newest
    checkpoint + suffix (and survives commit files BEFORE the
    checkpoint being logically superseded)."""
    root = str(tmp_path / "t")
    tf.create_table(
        _mk(spark, 0, 5), root, stat_cols=["k"], checkpoint_every=4
    )
    for b in range(11, 18):  # versions 1..7; checkpoint at v4
        tf.append(_mk(spark, 10 * b, 10 * b + 2), root, batch_id=b)
    assert os.path.exists(tf._checkpoint_path(root, 4))
    import json as _json

    ck = _json.load(open(tf._checkpoint_path(root, 4)))
    assert ck["batch_ids"] == [11, 12, 13, 14]
    assert tf.committed_batch_ids(root) == set(range(11, 18))
    # replay of a pre-checkpoint batch id is still a no-op
    head = tf.latest_version(root)
    assert tf.append(_mk(spark, 900, 950), root, batch_id=12) == head
    assert tf.latest_version(root) == head


def test_append_only_stream_skips_compaction(spark, tmp_path):
    """A data-identical OPTIMIZE (compact/cluster) commit must pass
    through an append-only lakehouse stream transparently — Delta's
    dataChange=false semantics. Previously the stream raised on the
    compact commit, and ignoreChanges would have re-emitted the whole
    rewritten table as duplicates."""
    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.sources.lakehouse_stream import (
        register_lakehouse_source,
    )

    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 10).repartition(2), root, stat_cols=["k"])
    register_lakehouse_source(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def _run():
        q = (
            spark.readStream.format("lakehouse").option("path", root).load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _run()
    assert spark.read.parquet(out).count() == 10
    tf.compact(spark, root, target_files=1)  # maintenance rewrite
    tf.append(_mk(spark, 10, 12, seg="B"), root)
    _run()  # must not raise, must emit ONLY the new append
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got == list(range(12)), got


def test_mask_strings_consumes_escaped_quotes():
    """r9 ADVICE fix: `note = 'it''s'` masked as TWO literals with live
    predicate text between them, so comparator text inside the "gap"
    could derive unsound stats-pruning bounds. Escaped quotes ('' and
    backslash) must be consumed as part of ONE literal, and escaped
    literals must never produce a (possibly wrong) bound value."""
    masked, lits = tf._mask_strings("note = 'it''s' AND k > 3")
    assert lits == ["'it''s'"]
    assert "'" not in masked
    masked2, lits2 = tf._mask_strings(r"note = 'a\'b > 9' AND k < 7")
    assert lits2 == [r"'a\'b > 9'"]
    assert ">" not in masked2.split("AND")[0]
    # bound extraction stays sound around escaped literals
    assert tf._extract_bounds("note = 'it''s k > 100' AND k > 3", "k") == (
        3,
        None,
    )
    # an escaped literal compared against a stat column yields NO bound
    # (pruning disabled) rather than a wrongly-unescaped string bound
    assert tf._extract_bounds("s >= 'it''s'", "s") is None
    # plain string bounds still extract
    assert tf._extract_bounds("s >= 'b' AND s <= 'd'", "s") == ("b", "d")


def test_live_cdf_reader_across_concurrent_mixed_writers(spark, tmp_path):
    """r9 (VERDICT r8 next-step #5): a LIVE streaming CDF reader
    (readChangeFeed=true, processingTime trigger) consumes the table
    WHILE concurrent writers interleave mor mutations on it and a
    restore_table lands mid-stream — the reader must deliver an exact,
    gap-free change stream (== the batch table_changes reconstruction,
    no gaps, no duplicates, no torn reads) even though commits land
    between and during its triggers. Then a copy-on-write commit lands
    while the stream is still live: the stream must poison with the
    pointed cow error at exactly that version, emitting nothing for it
    — never a silently wrong feed."""
    import threading
    import time as _time

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.sources import (
        register_lakehouse_source,
    )

    register_lakehouse_source(spark)
    root = str(tmp_path / "t")
    seed = [
        Row(k=w * 1000 + i, seg=f"W{w}", val=float(i))
        for w in range(2)
        for i in range(10)
    ]
    tf.create_table(spark.createDataFrame(seed), root, stat_cols=["k"])  # v0

    q = (
        spark.readStream.format("lakehouse")
        .option("path", root)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("memory")
        .queryName("cdf_live_mixed")
        .trigger(processingTime="300 milliseconds")
        .start()
    )

    errors: list[BaseException] = []

    def writer(w: int) -> None:
        base = w * 1000
        try:
            tf.append(
                spark.createDataFrame(
                    [Row(k=base + 10 + i, seg=f"A{w}", val=1.0) for i in range(5)]
                ),
                root,
                max_retries=30,
            )
            tf.merge_upsert(
                spark.createDataFrame(
                    [Row(k=base + i, seg=f"U{w}", val=2.0) for i in range(3)]
                    + [Row(k=base + 20, seg=f"U{w}", val=2.5)]
                ),
                root,
                key_col="k",
                mode="mor",
                max_retries=30,
            )
            tf.delete_where(
                spark,
                root,
                f"k >= {base + 7} AND k <= {base + 8}",
                prune_col="k",
                mode="mor",
                max_retries=30,
            )
        except BaseException as exc:  # noqa: BLE001 - surface to main thread
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, f"writer failed: {errors[0]!r}"

    # mid-stream restore: the reader is live; every crossed commit is
    # mor, so the restore is stream-legal and must surface as one exact
    # change batch
    tf.restore_table(root, 3)
    head = tf.latest_version(root)
    assert head == 7  # 1 create + 6 writer commits + 1 restore

    want = sorted(
        (r["k"], r["seg"], r["_change_type"], r["_commit_version"])
        for r in tf.table_changes(spark, root, 0, head).collect()
    ) + sorted(
        (r["k"], r["seg"], "inserted", 0)
        for r in tf.read_table(spark, root, version=0).collect()
    )
    want = sorted(want)

    deadline = _time.time() + 120
    got: list = []
    while _time.time() < deadline:
        assert q.exception() is None, f"stream died mid-mor: {q.exception()}"
        got = sorted(
            (r["k"], r["seg"], r["_change_type"], r["_commit_version"])
            for r in spark.sql("SELECT * FROM cdf_live_mixed").collect()
        )
        if len(got) >= len(want):
            break
        _time.sleep(0.3)
    # exact multiset equality: gap-free, duplicate-free, torn-read-free
    assert got == want

    # now a cow commit lands under the LIVE stream: it must poison with
    # the pointed error, not feed wrong rows
    cow_v = tf.delete_where(spark, root, "k = 5", mode="cow")
    with pytest.raises(Exception, match="copy-on-write|mor"):
        q.awaitTermination(120)
        if q.exception():
            raise q.exception()
        raise AssertionError("stream survived a cow commit silently")
    after = [
        r
        for r in spark.sql("SELECT * FROM cdf_live_mixed").collect()
        if r["_commit_version"] >= cow_v
    ]
    assert after == []  # nothing from the poisoned version leaked


def test_pred_literal_opposite_quote_is_plain_data():
    """r9 review pass: only the literal's OWN quote char (or a
    backslash) can be an escape — `'say "hi"'` strips exactly and must
    keep its pruning bound; escaped same-style quotes still bail."""
    assert tf._pred_literal("'say \"hi\"'") == 'say "hi"'
    assert tf._pred_literal('"it\'s"') == "it's"
    assert tf._pred_literal("'it''s'") is None
    assert tf._pred_literal(r"'a\'b'") is None
    assert tf._extract_bounds("s >= 'say \"hi\"'", "s") == ('say "hi"', None)


def test_starting_version_past_head_waits_not_regresses(spark, tmp_path):
    """r9 review pass: startingVersion beyond the current head must
    WAIT for those commits (Delta semantics). Previously latestOffset
    returned head < starting, Spark planned a backward (start, head]
    batch, the checkpointed offset regressed to head, and the next
    batch re-emitted every version the user asked to skip."""
    import tempfile

    from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.sources import (
        register_lakehouse_source,
    )

    register_lakehouse_source(spark)
    root = str(tmp_path / "t")
    tf.create_table(_mk(spark, 0, 10), root, stat_cols=["k"])     # v0
    tf.append(_mk(spark, 10, 20, seg="B"), root)                  # v1
    ckpt = tempfile.mkdtemp(prefix="svwait-")
    sink = tempfile.mkdtemp(prefix="svwait-sink-")

    def run():
        q = (
            spark.readStream.format("lakehouse")
            .option("path", root)
            .option("readChangeFeed", "true")
            .option("startingVersion", 4)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.exception():
            raise q.exception()
        return spark.read.parquet(sink).collect()

    # head (1) < starting (4): nothing to emit, offset must NOT regress
    assert run() == []
    tf.append(_mk(spark, 20, 30, seg="C"), root)                  # v2
    tf.append(_mk(spark, 30, 40, seg="D"), root)                  # v3
    tf.append(_mk(spark, 40, 45, seg="E"), root)                  # v4
    got = run()
    # versions 2 and 3 were asked to be skipped; only v4 flows
    assert got and {r["_commit_version"] for r in got} == {4}
    assert sorted(r["k"] for r in got) == list(range(40, 45))
