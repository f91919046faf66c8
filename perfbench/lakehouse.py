"""``review_lakehouse``: one writer in a closed loop over a bronze review
table and a maintained per-business silver rollup.

Each step upserts a batch (half new reviews, half edits of older ones,
hot reviews most) with ``merge_upsert(mode="mor")``, refreshes the
rollup with ``refresh_rollup``, then runs a snapshot aggregate and one
time-travel aggregate, which pay for every deletion vector the merges
since the last compaction left. Every ``COMPACT_EVERY``-th step then
compacts small files and deletion vectors with ``compact_small`` (as
``streaming_sink(compact_every=...)`` does). A step's latency is all of
that. The window measures whole compaction cycles, so every run holds
the same mix of steps with and without compaction, however fast they
are.
"""

from __future__ import annotations

import os
import time
import traceback

import gen
from core import (PREP_REPEATS, Phase, median_ms, ms, pkg, tail_ms,
                  tree_bytes)

INITIAL_ROWS = 5000
BATCH_ROWS = 1000
COMPACT_EVERY = 2  # measured steps per compaction cycle
TIME_TRAVEL_BACK = 3  # versions behind head


class ReviewLakehouse:
    def __init__(self, work: str, seed: int):
        self.work = work
        self.feed = gen.LakehouseFeed(seed)
        self.initial = self.feed.initial(INITIAL_ROWS)
        self.replay = {r[0]: r[1:] for r in self.initial}
        self.agg_at: dict[int, tuple] = {}
        self.user_bytes = 0
        self.read_state: list[tuple[int, int]] = []  # (files, DV rows) each read saw

    def _agg(self) -> tuple:
        return (len(self.replay), sum(v[1] for v in self.replay.values()),
                sum(v[2] for v in self.replay.values()))

    def prepare(self, ph: Phase) -> None:
        """Create the bronze table and its rollup view (timed, repeated
        on fresh roots; the last pair is used)."""
        tf = pkg("operators.table_format")
        ivm = pkg("operators.ivm")
        df0 = ph.spark.createDataFrame(self.initial, gen.LAKEHOUSE_SCHEMA)
        for k in range(PREP_REPEATS):
            self.bronze = os.path.join(self.work, f"bronze{k}")
            self.silver = os.path.join(self.work, f"silver{k}")
            t0 = time.perf_counter()
            with ph.call("operators.table_format", "create_table"):
                tf.create_table(df0, self.bronze, stat_cols=["review_id"])
            with ph.call("operators.ivm", "create_rollup"):
                ivm.create_rollup(ph.spark, self.bronze, self.silver,
                                  keys=["business_id"], sum_cols=["stars", "useful"])
            ph.prep_s.append(time.perf_counter() - t0)
        self.agg_at[tf.latest_version(self.bronze)] = self._agg()

    def warm_up(self, ph: Phase) -> None:
        """One step that compacts, so that every code path has run and
        the measured cycles start from a compacted table."""
        self.step(ph, compact=True, measured=False)

    def measure(self, ph: Phase, seconds: float) -> None:
        self.before = (tree_bytes(self.bronze), tree_bytes(self.silver),
                       _removed_files(self.silver))
        t_end = time.perf_counter() + seconds
        while True:
            for i in range(COMPACT_EVERY):
                self.step(ph, compact=i == COMPACT_EVERY - 1, measured=True)
            if time.perf_counter() >= t_end:
                break
        self.final_check(ph)

    def step(self, ph: Phase, *, compact: bool, measured: bool) -> None:
        from pyspark.sql import functions as F

        tf = pkg("operators.table_format")
        ivm = pkg("operators.ivm")
        spark = ph.spark
        rows = self.feed.batch(BATCH_ROWS)
        df = spark.createDataFrame(rows, gen.LAKEHOUSE_SCHEMA)
        aggs = [F.count("*").alias("n"), F.sum("stars").alias("s"),
                F.sum("useful").alias("u")]
        t0 = time.perf_counter()
        try:
            with ph.call("operators.table_format", "merge_upsert"):
                tf.merge_upsert(df, self.bronze, key_col="review_id", mode="mor")
            with ph.call("operators.ivm", "refresh_rollup"):
                ivm.refresh_rollup(spark, self.silver)
            t1 = time.perf_counter()
            head = tf.latest_version(self.bronze)
            back = max(0, head - TIME_TRAVEL_BACK)
            with ph.call("operators.table_format", "read_table"):
                cur = tuple(tf.read_table(spark, self.bronze).agg(*aggs).collect()[0])
                old = tuple(tf.read_table(spark, self.bronze, version=back)
                            .agg(*aggs).collect()[0])
            t2 = time.perf_counter()
            if compact:
                with ph.call("operators.table_format", "compact_small"):
                    tf.compact_small(spark, self.bronze)
            t3 = time.perf_counter()
        except Exception:
            traceback.print_exc()
            ph.check(False, "lakehouse step raised")
            return
        for r in rows:
            self.replay[r[0]] = r[1:]
        want = self._agg()
        for v in range(head, tf.latest_version(self.bronze) + 1):
            self.agg_at[v] = want  # a compaction commit holds the same rows
        if not measured:
            return
        live, _ = tf.snapshot_files(self.bronze, head)
        self.read_state.append((len(live), sum(e.get("dv", {}).get("rows", 0) for e in live)))
        ph.op_ms.append(ms(t3 - t0))
        ph.timings.setdefault("commit", []).append((t1 - t0) + (t3 - t2))
        ph.n_ops += 1
        ph.rows += len(rows)
        ph.busy_s += t3 - t0
        self.user_bytes += sum(len(",".join(map(str, r))) + 1 for r in rows)
        ph.check(cur == want and old == self.agg_at.get(back),
                 f"snapshot {cur} / v{back} {old} != replay {want} / {self.agg_at.get(back)}")

    def final_check(self, ph: Phase) -> None:
        """The full snapshot equals the last-write-wins replay, and the
        maintained rollup equals a recompute from the replay."""
        tf = pkg("operators.table_format")
        ivm = pkg("operators.ivm")
        snap = {r["review_id"]: (r["business_id"], r["stars"], r["useful"])
                for r in tf.read_table(ph.spark, self.bronze).collect()}
        ph.check(snap == self.replay,
                 f"bronze snapshot ({len(snap)} rows) != replay ({len(self.replay)} rows)")
        want: dict[str, list[int]] = {}
        for biz, s, u in self.replay.values():
            acc = want.setdefault(biz, [0, 0, 0])
            acc[0] += 1
            acc[1] += s
            acc[2] += u
        got = {r["business_id"]: [int(r["n_rows"]), int(r["sum_stars"]), int(r["sum_useful"])]
               for r in ivm.read_rollup(ph.spark, self.silver).collect()}
        ph.check(got == want, "silver rollup != recompute from the replay")

    def layer_values(self, ph: Phase) -> dict:
        tf = pkg("operators.table_format")
        t = ph.timings
        written = (tree_bytes(self.bronze) - self.before[0]
                   + tree_bytes(self.silver) - self.before[1])
        return {
            "operators.table_format.commit_ms_p50": median_ms(t, "commit"),
            "operators.table_format.merge_ms_p50": median_ms(t, "operators.table_format:merge_upsert"),
            "operators.table_format.merge_ms_tail": tail_ms(t, "operators.table_format:merge_upsert"),
            "operators.table_format.compact_ms": median_ms(t, "operators.table_format:compact_small"),
            "operators.table_format.read_ms_p50": median_ms(t, "operators.table_format:read_table"),
            "operators.table_format.read_ms_tail": tail_ms(t, "operators.table_format:read_table"),
            "operators.table_format.write_amp": written / self.user_bytes if self.user_bytes else 0.0,
            # the most any measured read had to merge
            "operators.table_format.files_live": max((f for f, _ in self.read_state), default=0),
            "operators.table_format.dv_rows_live": max((d for _, d in self.read_state), default=0),
            "operators.table_format.log_bytes": tree_bytes(os.path.join(self.bronze, "_log")),
            "operators.table_format.versions": tf.latest_version(self.bronze) + 1,
            "operators.ivm.refresh_ms_p50": median_ms(t, "operators.ivm:refresh_rollup"),
            "operators.ivm.refresh_ms_tail": tail_ms(t, "operators.ivm:refresh_rollup"),
            "operators.ivm.view_files_rewritten": _removed_files(self.silver) - self.before[2],
        }


def _removed_files(view_root: str) -> int:
    tf = pkg("operators.table_format")
    return sum(h["n_removed"] for h in tf.history(view_root))
