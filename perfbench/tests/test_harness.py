"""Tests of the benchmark harness's own pieces (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402


def _write(tmp_path, name, seed):
    return gen.write_review_csvs(
        str(tmp_path / name), seed, n_reviews=300, n_users=50, n_businesses=20
    )


def test_review_csvs_same_seed_same_bytes(tmp_path):
    a = _write(tmp_path, "a", 7)
    b = _write(tmp_path, "b", 7)
    for name in ("review", "user", "business"):
        assert filecmp.cmp(a["paths"][name], b["paths"][name], shallow=False)
    assert a["families"] == b["families"]
    assert a["planted"] == b["planted"]


def test_review_csvs_other_seed_other_bytes(tmp_path):
    a = _write(tmp_path, "a", 7)
    c = _write(tmp_path, "c", 8)
    assert not filecmp.cmp(a["paths"]["review"], c["paths"]["review"], shallow=False)


def test_every_dirty_class_is_planted(tmp_path):
    info = gen.write_review_csvs(str(tmp_path / "d"), 3, n_reviews=2000,
                                 n_users=100, n_businesses=30)
    assert set(info["planted"]) == set(gen.DIRTY_CLASSES)
    assert all(n > 0 for n in info["planted"].values())


def test_spam_families_straddle_the_threshold(tmp_path):
    info = _write(tmp_path, "s", 5)
    sh = {r: gen.shingles(info["texts"][r]) for f in info["families"] for r in f}
    for fam in info["families"]:
        sims = [gen.jaccard(sh[a], sh[b]) for i, a in enumerate(fam) for b in fam[i + 1:]]
        assert any(s >= 0.5 for s in sims) and any(s < 0.5 for s in sims)
    pairs = gen.planted_pairs(info["families"], info["texts"], 0.5)
    assert pairs and all(a < b for a, b in pairs)


def test_stream_text_is_a_function_of_id_and_seed():
    s1, s1b, s2 = gen.StreamSpec(1), gen.StreamSpec(1), gen.StreamSpec(2)
    assert [s1.text(i) for i in range(50)] == [s1b.text(i) for i in range(50)]
    assert [s1.text(i) for i in range(50)] != [s2.text(i) for i in range(50)]
    for i in (0, 1, 12345):
        assert s1.text(i).split()[0] == gen.letters("q", i)
        assert gen.MIN_TOKENS <= len(s1.text(i).split()) - 1 <= gen.MAX_TOKENS


def test_lakehouse_edits_target_existing_reviews():
    feed = gen.LakehouseFeed(4)
    first = {r[0] for r in feed.initial(1000)}
    batch = feed.batch(200)
    new, edits = batch[:100], batch[100:]
    assert not {r[0] for r in new} & first
    assert {r[0] for r in edits} <= first
    assert len({r[0] for r in batch}) == len(batch)  # keys unique per batch


@pytest.mark.parametrize("n, p", [(1, 100.0), (19, 100.0), (20, 50.0),
                                  (99, 50.0), (100, 90.0), (1000, 99.0),
                                  (10_000, 99.9), (100_000, 99.99)])
def test_tail_percentile_rule(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_reports_percentile_value_and_count():
    vals = list(range(1, 101))  # 1..100
    assert stats.tail(vals) == {"p": 90.0, "value": 90.0, "n": 100}
    assert stats.tail([3.0, 1.0, 2.0]) == {"p": 100.0, "value": 3.0, "n": 3}


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 0, "layer": "plans.yelp_flow", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "layer": "functions.text", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "layer": "functions.text", "parent": 0, "start": 3.0, "end": 5.0},
    ]
    st = trace.self_times(spans)
    assert st == {0: 6.0, 1: 3.0, 2: 2.0}
    by_layer = trace.layer_self_seconds(spans)
    assert by_layer["plans.yelp_flow"] == 6.0 and by_layer["functions.text"] == 5.0


def test_tracer_disabled_records_nothing():
    tr = trace.Tracer("r")
    with tr.span("sources.io", "read"):
        pass
    assert tr.spans == [] and tr.group_layer == {}


def test_event_log_parser_on_fixture():
    with open(os.path.join(HERE, "fixtures", "eventlog.jsonl")) as f:
        lines = f.readlines()
    groups = {"run/0": "sources.io", "run/1": "sources.io",
              "stream-run-id": "streaming.scoring"}
    out = trace.parse_event_log(lines, groups, since_ms=2000)
    io = out["sources.io"]
    assert (io["jobs"], io["stages"], io["tasks"]) == (1, 2, 4)
    assert io["gc_ms"] == 6 and io["shuffle_write_bytes"] == 300
    assert io["shuffle_read_bytes"] == 100
    assert io["task_skew"] == pytest.approx(40 / 10)
    st = out["streaming.scoring"]
    assert (st["jobs"], st["tasks"], st["spill_bytes"]) == (1, 1, 4096)
    # the ungrouped job and the pre-window job are charged nowhere
    assert sum(c["tasks"] for c in out.values()) == 5


def test_history_matches_code_and_seed(tmp_path):
    import run

    path = tmp_path / "untraced.jsonl"
    recs = [{"code": "a", "seed": 1, "metrics": {"op_p50_ms": 1.0}},
            {"code": "b", "seed": 1, "metrics": {"op_p50_ms": 2.0}},
            {"code": "a", "seed": 2, "metrics": {"op_p50_ms": 3.0}}]
    path.write_text("".join(json.dumps(r) + "\n" for r in recs))
    assert run._read_history(str(path), {"code": "a", "seed": 1}) == [{"op_p50_ms": 1.0}]
    assert run._read_history(str(path), {"code": "c", "seed": 1}) == []
    assert run._read_history(str(tmp_path / "none.jsonl"), {"code": "a", "seed": 1}) == []


def test_code_hash_is_stable():
    import core

    assert core.code_hash() == core.code_hash()
    assert len(core.code_hash()) == 16
