"""``review_stream``: the paper's script 5 under open-loop load.

A rate source emits review text on a wall-clock schedule that does not
slow down when the engine does; ``score_stream`` scores it with a
``PipelineModel`` loaded once and the scored rows are committed to a
parquet sink, triggering as soon as the previous micro-batch commits.
Each event's latency runs from its due time (the rate source's
timestamp for it) to the commit of its batch.

During the warm-up, ``windowed_event_counts`` aggregates a second rate
source in 1-second event-time windows beside the scorer until it has
finalized windows; it is stopped before the measured window, because
its triggers landed inside some scoring batches and not others, which
made the scoring tail bimodal from run to run.
"""

from __future__ import annotations

import datetime
import os
import time

import gen
import stats
from core import (PREP_REPEATS, Phase, code_hash, iso_ms, pkg, progress,
                  rate_start_ms, run_child, stop_between_batches)

RATE = 2000  # review rows/s offered to score_stream
EVENT_RATE = 1000  # rows/s offered to windowed_event_counts (1 per ms)
WINDOW_S = 1
WARMUP_S = 3.0
WARMUP_BATCHES = 2  # scoring batches before measuring
WARMUP_WINDOWS = 1  # finalized event windows before measuring
SETTLE_S = 2.0
WARMUP_TIMEOUT_S = 60
SAMPLE = 200  # scored rows re-scored in batch per run
MODEL_BUILD_SEED = 0
MODEL_BUILD_REVIEWS = 2000


def build_model(ph: Phase, work: str, model_dir: str) -> None:
    """Train the deployed model with ``yelp_flow.deploy`` on reviews of a
    fixed seed and save it to ``model_dir``."""
    io = pkg("sources.io")
    schemas = pkg("schemas")
    yelp_flow = pkg("plans.yelp_flow")
    p = gen.write_review_csvs(
        os.path.join(work, "model_input"), MODEL_BUILD_SEED,
        n_reviews=MODEL_BUILD_REVIEWS, n_users=600, n_businesses=120,
        spam_share=0.0)["paths"]
    clean, _ = io.split_quarantine(io.read_csv(ph.spark, p["review"], schemas.YELP_REVIEW))
    usr, _ = io.split_quarantine(io.read_csv(ph.spark, p["user"], schemas.YELP_USER))
    biz, _ = io.split_quarantine(io.read_csv(ph.spark, p["business"], schemas.YELP_BUSINESS))
    tmp = f"{model_dir}.tmp{os.getpid()}"
    yelp_flow.deploy(yelp_flow.preprocess(clean, usr, biz), tmp)
    os.rename(tmp, model_dir)


class ReviewStream:
    def __init__(self, work: str, seed: int, build: str):
        """Build the deployed model, in a child process, unless this
        version of the code has built it before in this checkout."""
        self.work = work
        self.spec = gen.StreamSpec(seed)
        self.model_path = os.path.join(build, f"stream_model-{code_hash()}")
        self.model = None
        if not os.path.isdir(self.model_path):
            run_child("stream-model", work, self.model_path)

    def prepare(self, ph: Phase) -> None:
        """Load the deployed model (timed, repeated)."""
        from pyspark.ml import PipelineModel

        for _ in range(PREP_REPEATS):
            t0 = time.perf_counter()
            with ph.call("ml.pipeline", "load"):
                self.model = PipelineModel.load(self.model_path)
            ph.prep_s.append(time.perf_counter() - t0)

    def warm_up(self, ph: Phase) -> None:
        """Start both queries; run until the scorer has committed its
        first batches and the window query has finalized windows, then
        stop the window query."""
        from pyspark.sql import functions as F

        scoring = pkg("streaming.scoring")
        spark = ph.spark
        self.out = os.path.join(self.work, "scored")
        self.ck = os.path.join(self.work, "scored_ckpt")
        self.wout = os.path.join(self.work, "windows")
        self.wck = os.path.join(self.work, "windows_ckpt")
        lines = (
            spark.readStream.format("rate").option("rowsPerSecond", RATE)
            .option("numPartitions", spark.sparkContext.defaultParallelism).load()
            .select(self.spec.text_column().alias("value"))
        )
        self.q = (
            scoring.score_stream(lines, self.model).writeStream.format("parquet")
            .option("path", self.out).option("checkpointLocation", self.ck)
            .queryName("score").start()
        )
        events = (
            spark.readStream.format("rate").option("rowsPerSecond", EVENT_RATE)
            .option("numPartitions", 1).load()
            .select(F.col("timestamp").alias("ts"),
                    (F.col("value") % 3).cast("string").alias("event_type"),
                    F.col("value"))
        )
        self.wq = (
            scoring.windowed_event_counts(
                events, window_duration=f"{WINDOW_S} seconds", watermark="0 seconds")
            .writeStream.format("parquet").outputMode("append")
            .option("path", self.wout).option("checkpointLocation", self.wck)
            # a fixed trigger interval leaves idle moments between its
            # batches; back to back, the stop below waited seconds for one
            .trigger(processingTime=f"{WINDOW_S} seconds")
            .queryName("windows").start()
        )
        t_end = time.perf_counter() + WARMUP_S
        deadline = time.perf_counter() + WARMUP_TIMEOUT_S
        while True:
            for q in (self.q, self.wq):
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
            if time.perf_counter() > deadline:
                raise RuntimeError("stream warm-up did not finish")
            scored = [p for p in progress(self.q) if p["numInputRows"] > 0]
            # each finalized window leaves state as one row per event type
            finalized = sum(p["stateOperators"][0].get("numRowsRemoved", 0)
                            for p in progress(self.wq) if p.get("stateOperators"))
            if (len(scored) >= WARMUP_BATCHES and finalized >= 3 * WARMUP_WINDOWS
                    and time.perf_counter() >= t_end):
                break
            time.sleep(0.05)
        self.evaluate_windows(ph)
        stop_between_batches(self.wq)
        # let the scorer's trigger cadence settle after the stop
        time.sleep(SETTLE_S)

    def measure(self, ph: Phase, seconds: float) -> None:
        ph.tracer.alias_group(str(self.q.runId), "streaming.scoring")
        lo = time.time() * 1000.0
        time.sleep(seconds)
        hi = time.time() * 1000.0
        stop_between_batches(self.q)
        self.evaluate(ph, lo, hi)
        self.check_output(ph)
        self.check_windows(ph)

    def evaluate(self, ph: Phase, lo: float, hi: float) -> None:
        """Latency of every event of the batches that started inside the
        window, from the batches' rate offsets (whole seconds since the
        source started) and commit times."""
        import numpy as np

        t0 = rate_start_ms(self.ck)
        measured, lat = [], []
        for p in progress(self.q):
            start_ms = iso_ms(p["timestamp"])
            if p["numInputRows"] == 0 or not lo <= start_ms < hi:
                continue
            src = p["sources"][0]
            a, b = int(src["startOffset"]), int(src["endOffset"])
            commit = start_ms + p["durationMs"]["triggerExecution"]
            v = np.arange(a * RATE, b * RATE, dtype=np.float64)
            lat.append(commit - (t0 + v * 1000.0 / RATE))
            measured.append((p, b, start_ms, commit))
            ph.notes.setdefault("batches", []).append(
                (p["batchId"], a, b, p["durationMs"]["triggerExecution"]))
        ph.check(bool(measured), "no stream batch started inside the measured window")
        if not measured:
            return
        ph.op_ms = np.concatenate(lat).tolist()
        ph.n_ops = len(measured)
        ph.rows = sum(p["numInputRows"] for p, *_ in measured)
        ph.busy_s = (measured[-1][3] - measured[0][2]) / 1000.0
        ph.check(ph.rows == len(ph.op_ms),
                 f"batch row counts {ph.rows} != rate offsets {len(ph.op_ms)}")

        def dur(k):
            return [p["durationMs"].get(k, 0) for p, *_ in measured]

        trig = dur("triggerExecution")
        ph.values.update({
            "streaming.scoring.trigger_ms_p50": stats.median(trig),
            "streaming.scoring.trigger_ms_tail": stats.tail(trig)["value"],
            "streaming.scoring.add_batch_ms_p50": stats.median(dur("addBatch")),
            "streaming.scoring.planning_ms_p50": stats.median(dur("queryPlanning")),
            "streaming.scoring.wal_commit_ms_p50": stats.median(dur("walCommit")),
            # rows due but not yet committed when each batch commits
            "streaming.scoring.backlog_rows_max": max(
                max(0.0, (c - t0) * RATE / 1000.0 - b * RATE) for _, b, _, c in measured),
            # how long after its last second was due each batch started
            "streaming.scoring.generator_lag_ms": stats.median(
                [s - (t0 + b * 1000.0) for _, b, s, _ in measured]),
            "streaming.scoring.batches": len(measured),
            # the stream thread runs outside any span: its busy time per
            # micro-batch stands in for self time
            "streaming.scoring.self_s": sum(trig) / 1000.0 / len(measured),
        })

    def evaluate_windows(self, ph: Phase) -> None:
        """State metrics of the window query, read before it stops."""
        ops = [p["stateOperators"][0] for p in progress(self.wq) if p.get("stateOperators")]
        ph.values.update({
            "streaming.scoring.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
            "streaming.scoring.rows_dropped_by_watermark": sum(
                o.get("numRowsDroppedByWatermark", 0) for o in ops),
        })

    def check_output(self, ph: Phase) -> None:
        """Every row due through the last committed offset was emitted
        exactly once, and a sample of scored rows equals batch
        ``model.transform`` of the generator's text for the same id."""
        from pyspark.sql import functions as F

        ends = [int(p["sources"][0]["endOffset"]) for p in progress(self.q)
                if p["numInputRows"] > 0]
        expected = max(ends) * RATE
        out = ph.spark.read.parquet(self.out).select(
            gen.decode_letters_sql(F.split("text", " ").getItem(0)).alias("lid"),
            "sentiment")
        agg = out.agg(F.count("*").alias("n"), F.countDistinct("lid").alias("d"),
                      F.min("lid").alias("lo"), F.max("lid").alias("hi")).collect()[0]
        got = (agg["n"], agg["d"], agg["lo"], agg["hi"])
        ph.check(got == (expected, expected, 0, expected - 1),
                 f"stream output (rows, distinct, min, max) {got} for {expected} due rows",
                 expected)
        sample = out.filter(F.col("lid") % 997 == 0).limit(SAMPLE).collect()
        texts = ph.spark.createDataFrame(
            [(r["lid"], self.spec.text(r["lid"])) for r in sample], "lid long, text string")
        pred = {r["lid"]: ("Positive" if r["prediction"] == 1 else "Negative")
                for r in self.model.transform(texts).select("lid", "prediction").collect()}
        bad = [r["lid"] for r in sample if pred[r["lid"]] != r["sentiment"]]
        ph.check(not bad, f"stream predictions differ from batch transform for {bad[:5]}",
                 max(1, len(sample)))

    def check_windows(self, ph: Phase) -> None:
        """Every finalized window holds exactly the events whose rate
        timestamp (source start + value ms, at 1000 rows/s) falls in it."""
        t0 = int(rate_start_ms(self.wck))
        rows = ph.spark.read.parquet(self.wout).collect()
        ph.check(bool(rows), "no event window was finalized")
        seen = set()
        for r in rows:
            ws = int(r["window_start"].replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)
            key = (ws, r["event_type"])
            v_lo, v_hi = max(0, ws - t0), ws + WINDOW_S * 1000 - t0
            et = int(r["event_type"])
            vals = range(v_lo + (et - v_lo) % 3, v_hi, 3)
            ph.check(key not in seen and (r["n_events"], r["total_value"]) == (len(vals), sum(vals)),
                     f"window {key}: {r['n_events']}, {r['total_value']} != {len(vals)}, {sum(vals)}")
            seen.add(key)

    def layer_values(self, ph: Phase) -> dict:
        return {}
