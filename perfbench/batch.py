"""``review_batch``: the paper's scripts 1-4 plus copy-paste spam
detection, one job at a time (closed loop).

A job reads the review/user/business CSVs and quarantines dirty rows,
preprocesses (clean, join), runs the four EDA queries, scores VADER
sentiment, fits/evaluates/saves the SVM pipeline, and finds
near-duplicate reviews (MinHash candidates + exact Jaccard verify) and
their clusters. Jobs are measured from a cold start of the engine, as
each ``spark-submit`` of the scripts runs: the first job pays class
loading and code generation. Every job's answers are checked against
DuckDB and the generator's ground truth.
"""

from __future__ import annotations

import json
import os
import time
import traceback

import gen
import stats
from core import Phase, ms, pkg, run_child

REVIEWS = 2000
USERS = 600
BUSINESSES = 120
DEDUP_THRESHOLD = 0.5
F1_FLOOR = 0.70
RECALL_FLOOR = 0.95


def make_inputs(work: str, seed: int) -> dict:
    """The job's input files, their description and the reference
    answers, as JSON-able values. Runs in a child process
    (``child.py batch-inputs``), so the generator's and DuckDB's memory
    stays out of the measured process."""
    import oracle

    inp = gen.write_review_csvs(
        os.path.join(work, "input"), seed,
        n_reviews=REVIEWS, n_users=USERS, n_businesses=BUSINESSES)
    return {
        "inp": inp,
        "answer": oracle.batch_answers(inp["paths"], inp["n_reviews"]),
        "planted": sorted(gen.planted_pairs(inp["families"], inp["texts"],
                                            DEDUP_THRESHOLD)),
    }


class ReviewBatch:
    def __init__(self, work: str, seed: int):
        self.work = work
        made = json.loads(run_child("batch-inputs", work, str(seed)))
        self.inp = made["inp"]
        self.answer = made["answer"]
        self.planted = {tuple(p) for p in made["planted"]}
        self._shingles: dict[str, frozenset] = {}

    def prepare(self, ph: Phase) -> None:
        """Nothing to prepare beyond the session."""

    def warm_up(self, ph: Phase) -> None:
        """None: the first job runs on a cold engine, as a batch job does."""

    def measure(self, ph: Phase, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        while True:
            self.job(ph)
            if time.perf_counter() >= t_end:
                break

    def job(self, ph: Phase) -> None:
        from pyspark.sql import functions as F

        io = pkg("sources.io")
        schemas = pkg("schemas")
        yelp_flow = pkg("plans.yelp_flow")
        text = pkg("functions.text")
        dedup = pkg("operators.dedup")
        spark, paths = ph.spark, self.inp["paths"]
        t0 = time.perf_counter()
        try:
            with ph.call("sources.io", "read"):
                clean, bad = io.split_quarantine(
                    io.read_csv(spark, paths["review"], schemas.YELP_REVIEW))
                usr, _ = io.split_quarantine(
                    io.read_csv(spark, paths["user"], schemas.YELP_USER))
                biz, _ = io.split_quarantine(
                    io.read_csv(spark, paths["business"], schemas.YELP_BUSINESS))
                n_clean, n_bad = clean.count(), bad.count()
            with ph.call("plans.yelp_flow", "preprocess"):
                pre = yelp_flow.preprocess(clean, usr, biz).cache()
                n_pre = pre.count()
            with ph.call("plans.yelp_flow", "eda"):
                eda = {
                    "star_distribution": yelp_flow.eda_star_distribution(pre).collect(),
                    "top_categories": yelp_flow.eda_top_categories(pre).collect(),
                    "elite_vs_non": yelp_flow.eda_elite_vs_non(pre).collect(),
                    "word_count_histogram": yelp_flow.eda_word_count_histogram(pre).collect(),
                }
            with ph.call("functions.text", "vader_score"):
                vs = text.vader_score(pre, id_col="review_id").agg(
                    F.count("*").alias("n"), F.min("compound").alias("lo"),
                    F.max("compound").alias("hi")).collect()[0]
            with ph.call("ml.pipeline", "deploy"):
                model, f1 = yelp_flow.deploy(pre, os.path.join(self.work, "svm_model"))
            docs = pre.select("review_id", "text")
            with ph.call("operators.dedup", "near_dup_verified"):
                pairs = [
                    (r.id_a, r.id_b, r.jaccard)
                    for r in dedup.near_dup_verified(
                        docs, id_col="review_id", threshold=DEDUP_THRESHOLD).collect()
                ]
            with ph.call("operators.dedup", "connected_components"):
                edges = spark.createDataFrame(
                    [(a, b) for a, b, _ in pairs], "id_a string, id_b string")
                comps = {r.node: r.comp
                         for r in dedup.connected_components(edges).collect()}
        except Exception:
            traceback.print_exc()
            ph.check(False, "batch job raised")
            spark.catalog.clearCache()
            return
        elapsed = time.perf_counter() - t0
        # the next job starts from the files again, not from cached blocks
        spark.catalog.clearCache()
        ph.op_ms.append(ms(elapsed))
        ph.n_ops += 1
        ph.rows += n_clean + n_bad
        ph.busy_s += elapsed
        recall = self.recall(pairs)
        problems = self.problems(n_clean, n_bad, n_pre, eda, vs, f1, pairs, comps)
        ph.check(not problems, "; ".join(problems))
        ph.values.update({
            "sources.io.rows_in": n_clean + n_bad,
            "sources.io.rows_quarantined": n_bad,
            "ml.pipeline.vocab_size": len(model.stages[2].vocabulary),
            "ml.pipeline.f1": f1,
            "operators.dedup.verified_pairs": len(pairs),
            "operators.dedup.clusters": len(set(comps.values())),
            "operators.dedup.recall": recall,
        })
        ph.notes.update({"model_f1": round(f1, 4), "near_dup_recall": round(recall, 4)})

    def recall(self, pairs) -> float:
        found = {(min(a, b), max(a, b)) for a, b, _ in pairs}
        return len(found & self.planted) / len(self.planted) if self.planted else 1.0

    def _sh(self, rid: str) -> frozenset:
        if rid not in self._shingles:
            self._shingles[rid] = gen.shingles(self.inp["texts"][rid])
        return self._shingles[rid]

    def problems(self, n_clean, n_bad, n_pre, eda, vs, f1, pairs, comps) -> list[str]:
        """Every way this job's answers differ from the references."""
        a = self.answer
        out = []
        got = (n_clean + n_bad, n_bad, n_pre)
        want = (a["rows_in"], a["rows_quarantined"], a["rows_preprocessed"])
        if got != want:
            out.append(f"rows in/quarantined/preprocessed {got} != {want}")
        for k, rows in eda.items():
            if [tuple(r) for r in rows] != [tuple(x) for x in a[k]]:
                out.append(f"{k} {[tuple(r) for r in rows]} != {a[k]}")
        if vs["n"] != n_pre or not -1.0 <= vs["lo"] <= vs["hi"] <= 1.0:
            out.append(f"vader {vs} for {n_pre} rows")
        if f1 < F1_FLOOR:
            out.append(f"model_f1 {f1} below {F1_FLOOR}")
        for x, y, jac in pairs:
            exact = gen.jaccard(self._sh(x), self._sh(y))
            if exact < DEDUP_THRESHOLD or abs(exact - jac) > 1e-9:
                out.append(f"pair {x},{y} jaccard {jac}, exact {exact}")
        if self.recall(pairs) < RECALL_FLOOR:
            out.append(f"near-duplicate recall {self.recall(pairs)} below {RECALL_FLOOR}")
        if comps != components([(x, y) for x, y, _ in pairs]):
            out.append("connected components differ from union-find")
        return out

    def layer_values(self, ph: Phase) -> dict:
        t = ph.timings

        def med(k):
            return stats.median(t[k]) if t.get(k) else 0.0

        return {
            "sources.io.read_s": med("sources.io:read"),
            "plans.yelp_flow.preprocess_s": med("plans.yelp_flow:preprocess"),
            "plans.yelp_flow.eda_s": med("plans.yelp_flow:eda"),
            "functions.text.vader_s": med("functions.text:vader_score"),
            "ml.pipeline.deploy_s": med("ml.pipeline:deploy"),
            "operators.dedup.near_dup_s": med("operators.dedup:near_dup_verified"),
            "operators.dedup.cluster_s": med("operators.dedup:connected_components"),
        }


def components(edges) -> dict[int, int]:
    """node -> smallest node id in its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        a, b = int(a), int(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}
