"""Tests of the benchmark's own parts: no Spark needed."""

import json

from checks import UnionFind, precision_recall
from eventlog import reduce_layers
from harness import tail_percentile


# ------------------------------------------------------------ tail rule

def test_tail_needs_ten_samples_beyond_p50():
    assert tail_percentile(list(range(19))) is None
    pct, value, n = tail_percentile(list(range(1, 21)))
    assert (pct, value, n) == (50.0, 10, 20)


def test_tail_picks_highest_point_with_ten_beyond():
    xs = list(range(1, 101))            # p90 leaves exactly 10 beyond
    assert tail_percentile(xs)[:2] == (90.0, 90)
    assert tail_percentile(list(range(1, 200)))[0] == 90.0
    assert tail_percentile(list(range(1, 201)))[0] == 95.0
    assert tail_percentile(list(range(1, 1001)))[0] == 99.0
    assert tail_percentile(list(range(1, 10001)))[0] == 99.9


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
    assert tail_percentile(xs) == tail_percentile(sorted(xs))


# ------------------------------------------------------------------ P/R

def test_precision_recall():
    got = {("c1", 0, "acme00001"), ("c1", 1, "acme00002"), ("x", 0, "y")}
    exp = {("c1", 0, "acme00001"), ("c1", 1, "acme00002"),
           ("c2", 0, "acme00003"), ("c2", 1, "acme00004")}
    p, r = precision_recall(got, exp)
    assert p == 2 / 3 and r == 2 / 4


def test_precision_recall_edges():
    assert precision_recall([], []) == (1.0, 1.0)
    assert precision_recall([], [1]) == (0.0, 0.0)
    assert precision_recall([1, 1, 2], [1, 2]) == (1.0, 1.0)


# ------------------------------------------------------------ union-find

def test_union_find_partition():
    uf = UnionFind()
    for a, b in [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f2"),
                 ("f2", "a")]:
        uf.union(a, b)
    assert {frozenset(g) for g in uf.groups().values()} == {
        frozenset("abc") | {"f", "f2"}, frozenset("de")}


def test_union_find_long_chain_and_duplicates():
    uf = UnionFind()
    for i in range(5000):
        uf.union(i + 1, i)
        uf.union(i, i + 1)
    assert len(uf.groups()) == 1
    assert uf.find(5000) == 0


# ------------------------------------------------------ event-log reducer

def _log(*events):
    return [json.dumps(e) + "\n" for e in events]


def _job(job_id, t_ms, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": t_ms, "Stage IDs": stages,
            "Properties": props}


def _task(stage, cpu_ns, run_ms, shuffle=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms,
                "Disk Bytes Spilled": spill,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


SPANS = [
    {"layer": "frame", "start": 10.0, "end": 20.0},
    {"layer": "streaming.ingest", "start": 20.0, "end": 30.0},
]


def test_reducer_attributes_by_group_then_by_time():
    lines = _log(
        {"Event": "SparkListenerApplicationStart"},
        _job(0, 5_000, [0], group="frame"),        # group wins over time
        _task(0, 2e9, 100, shuffle=3_000_000),
        _task(0, 1e9, 300),
        _job(1, 25_000, [1, 2]),                   # no group: by time
        _task(1, 5e8, 50, spill=1_000_000),
        _task(2, 5e8, 10),
        _job(2, 26_000, [2]),                      # reuses skipped stage 2
        _job(3, 99_000, [3]),                      # outside every span
        _task(3, 9e9, 10),
    ) + ["\n"]
    out = reduce_layers(lines, SPANS)
    f, s = out["frame"], out["streaming.ingest"]
    assert f["jobs"] == 1 and s["jobs"] == 2
    assert f["cpu_s"] == 3.0 and s["cpu_s"] == 1.0
    assert f["shuffle_mb"] == 3.0 and s["spill_mb"] == 1.0
    assert f["task_skew"] == 300 / 200      # max / median of stage 0
    assert s["task_skew"] == 1.0            # heaviest stage has one task
    assert set(out) == {"frame", "streaming.ingest"}


def test_reducer_unknown_group_falls_back_to_time():
    lines = _log(_job(0, 15_000, [0], group="not-a-layer"), _task(0, 1e9, 5))
    assert reduce_layers(lines, SPANS)["frame"]["jobs"] == 1
