"""The benchmark's own tests: input determinism, the percentile rule,
span self-time arithmetic, and the speed-layer latency computation.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import speed  # noqa: E402
from stats import percentile, self_time  # noqa: E402
from tracing import Tracer  # noqa: E402


def test_same_seed_same_inputs_and_other_seed_differs():
    a, b, c = (gen.build_tables(s, 0.001) for s in (7, 7, 8))
    for name in gen.TABLES:
        assert a[name].equals(b[name]), name
    for name in ("customer", "orders", "lineitem", "events", "documents",
                 "embeddings"):
        assert not a[name].equals(c[name]), name
    t1, t2, t3 = (gen.tweets(s, 500, 100, 1.1) for s in (7, 7, 8))
    assert np.array_equal(t1.author, t2.author)
    assert np.array_equal(t1.views, t2.views)
    assert not np.array_equal(t1.author, t3.author)


def test_row_counts_match_fixture_scales():
    # TESTDATA.md / FIXTURES.md row counts at sf0.001 and sf0.1
    assert gen.row_counts(0.001) == {
        "region": 5, "nation": 25, "customer": 150, "supplier": 10,
        "part": 200, "orders": 1500, "lineitem": 6000, "events": 1000,
        "documents": 500, "embeddings": 500}
    assert gen.row_counts(0.1) == {
        "region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
        "part": 20000, "orders": 150000, "lineitem": 600000,
        "events": 100000, "documents": 5000, "embeddings": 2000}
    built = gen.build_tables(42, 0.001)
    assert {k: t.num_rows for k, t in built.items()} == gen.row_counts(0.001)


def test_near_duplicate_share_and_zipf_skew():
    docs = gen.build_tables(3, 0.001)["documents"]
    texts = docs.column("text").to_pylist()
    dups = [t for t in texts if t.endswith(" dup")]
    assert len(dups) == round(500 * gen.NEAR_DUP_SHARE)
    assert all(t[:-4] in texts for t in dups)
    skewed = np.bincount(gen.zipf_indices(np.random.default_rng(0), 20000,
                                          100, 1.1))
    assert skewed[0] > 5 * skewed[50]


def test_percentile_needs_ten_samples_beyond_it():
    assert percentile([3.0], 50) == 3.0          # the median always
    assert percentile(list(range(99)), 90) is None
    assert percentile(list(range(100)), 90) == 89
    assert percentile(list(range(999)), 99) is None
    assert percentile(list(range(1000)), 99) == 989
    assert percentile([], 50) is None


def test_self_time_subtracts_covered_child_time_once():
    assert self_time(0, 10, []) == 10
    # overlapping children count once; the part outside the parent not
    assert self_time(0, 10, [(1, 3), (2, 5), (8, 12)]) == pytest.approx(4)
    assert self_time(0, 10, [(0, 10), (2, 3)]) == 0


def test_tracer_spans_nest_and_share_the_request_id():
    tr = Tracer()
    with tr.span("plans.build", "q#0") as outer:
        with tr.span("checkpoint.materialize"):
            time.sleep(0.02)
        time.sleep(0.01)
    kids = tr.children()
    inner = kids[outer][0]
    assert tr.spans[inner].parent == outer
    assert tr.spans[inner].rid == "q#0"
    whole = tr.spans[outer].end - tr.spans[outer].start
    child = tr.spans[inner].end - tr.spans[inner].start
    assert tr.self_s(outer, kids) == pytest.approx(whole - child)


def _progress(batch_id, start, end, ts, trigger_ms, rows):
    return {"batchId": batch_id, "timestamp": ts, "numInputRows": rows,
            "durationMs": {"triggerExecution": trigger_ms},
            "sources": [{"startOffset": start, "endOffset": end}]}


def test_speed_latency_from_offsets_and_progress():
    t = speed.parse_ts("2026-01-01T00:00:10.000Z")
    progress = [
        # batch 0: offsets given as a JSON string, as some versions do
        _progress(0, None, '{"tweets": {"0": 2, "1": 1}}',
                  "2026-01-01T00:00:10.000Z", 1000, 9),
        _progress(1, {"tweets": {"0": 2, "1": 1}},
                  {"tweets": {"0": 4, "1": 1}},
                  "2026-01-01T00:00:11.000Z", 500, 6),
        # an idle trigger commits nothing and is skipped
        _progress(2, {"tweets": {"0": 4, "1": 1}},
                  {"tweets": {"0": 4, "1": 1}},
                  "2026-01-01T00:00:12.000Z", 5, 0),
    ]
    batches = speed.batches_from_progress(progress)
    assert [b.batch_id for b in batches] == [0, 1]
    assert batches[0].end_time == pytest.approx(t + 1.0)
    assert batches[1].records == 2
    created = {0: np.array([t - 1, t - 0.5, t + 0.5, t + 1.0]),
               1: np.array([t - 2])}
    lat = speed.event_latencies(batches, created, {0: 0, 1: 0})
    assert sorted(lat) == pytest.approx(sorted(
        [2.0, 1.5, 3.0, 1.0, 0.5]))
    # only records at or past the first phase-2 offset are measured
    assert speed.event_latencies(batches, created, {0: 2, 1: 1}) == \
        pytest.approx([1.0, 0.5])


def test_topic_partitions_match_the_producer(tmp_path):
    from bigdata_project_hust_spark.sources import kafka_log
    recs = gen.tweets(5, 300, 50, 1.1)
    log = speed.TopicLog(str(tmp_path), recs)
    log.append(300, 1000.0)
    for p in range(speed.PARTITIONS):
        lines = (tmp_path / speed.TOPIC / f"p{p:05d}.jsonl").read_text()
        assert lines.count("\n") == log.end_offsets()[p]
    for i in range(300):
        key = gen.author_key(recs.author[i])
        assert log.part[i] == kafka_log._partition_for(key, 4, i)
