#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 cdcbench/selftest.py

Checks that BENCHMARK.json lists exactly the metrics the code reports,
the tracer's self-time arithmetic, the Spark
job attribution helpers, and the oracle-side row normalisation.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import pandas as pd  # noqa: E402

import checks  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def test_benchmark_json_matches_catalogue() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    assert b["command"][1] == os.path.relpath(
        os.path.join(HERE, "run.py"), ROOT)
    assert b["paths"] == [os.path.basename(HERE)]
    for w in b["workloads"]:
        assert w["name"] in run.WORKLOADS, w
    e2e = {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]}
    assert e2e == report.END_TO_END, set(e2e) ^ set(report.END_TO_END)
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert max(b["end_to_end"], key=lambda m: m["bound"])["bound"] == \
        next(m["bound"] for m in b["end_to_end"] if m["name"] == "setup_s")
    layer = {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]}
    assert layer == report.PER_LAYER, set(layer) ^ set(report.PER_LAYER)
    assert len(b["per_layer"]) <= 128


def test_union_and_self_time() -> None:
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    tr = spans.Tracer()
    p = tr.add("p", 0.0, 10.0, None)
    tr.add("a", 1.0, 4.0, p.id)
    tr.add("b", 3.0, 6.0, p.id)            # overlaps a
    tr.add("c", 9.0, 12.0, p.id)           # runs past the parent
    kids = tr.children()
    assert abs(tr.self_time(p, kids) - 4.0) < 1e-9
    assert abs(tr.coverage(p, kids) - 0.6) < 1e-9


def test_bench_thread_spans_nest() -> None:
    tr = spans.Tracer()
    with tr.span("outer") as o:
        with tr.span("inner") as i:
            pass
    assert i.parent == o.id and o.parent is None
    assert o.group == f"cdcbench-{o.id}" and i.group != o.group
    assert o.start <= i.start <= i.end <= o.end


def test_job_attribution() -> None:
    tr = spans.Tracer()
    tr.add("stream.batch", 100.0, 102.0, None)
    b = tr.spans[0]
    b.batch, b.wall = 7, 1000.0
    a = tr.add("merge.apply_batch", 100.5, 101.0, b.id)
    cost = spans.SparkCost.__new__(spans.SparkCost)
    cost.jobs = [
        {"jobId": 1, "jobGroup": "run-1", "stageIds": [1],
         "description": "q\nid = x\nrunId = run-1\nbatch = 7",
         "submissionTime": "1970-01-01T00:16:40.600GMT"},   # 1000.6 s
        {"jobId": 2, "jobGroup": "run-1", "stageIds": [2],
         "description": "q\nid = x\nrunId = run-1\nbatch = 7",
         "submissionTime": "1970-01-01T00:16:41.500GMT"},   # 1001.5 s
        {"jobId": 3, "jobGroup": "other", "stageIds": [3],
         "submissionTime": "1970-01-01T00:16:40.600GMT"},
    ]
    cost.stages = {(1, 0): {"status": "COMPLETE", "numTasks": 4,
                            "shuffleWriteBytes": 10},
                   (2, 0): {"status": "SKIPPED", "numTasks": 4}}
    own = cost.assign(tr, {"run-1"})
    assert [j["jobId"] for j in own[a.id]] == [1]
    assert [j["jobId"] for j in own[b.id]] == [2]
    c = cost.cost(own[a.id] + own[b.id])
    assert c["jobs"] == 2 and c["stages"] == 1 and c["tasks"] == 4
    assert c["shuffle_write_bytes"] == 10


def test_resolve_and_norm() -> None:
    ts = pd.Timestamp("2024-01-01")
    stored = pd.DataFrame({
        "conv_id": ["c1", "c1", "c1", "c2"], "turn_idx": [0, 0, 1, 0],
        "role": ["user", "user", None, "user"],
        "text": ["old", "new", None, "x"],
        "tool": [None, float("nan"), None, None],
        "ts": [ts, ts, pd.NaT, ts],
        "_lsn": [1, 5, 3, 2], "_deleted": [False, False, True, False]})
    got = checks._norm(checks.resolve_stored(stored))
    assert got == [("c1", 0, "user", "new", None, ts),
                   ("c2", 0, "user", "x", None, ts)], got


def test_inputs_fixed_by_seed_and_count() -> None:
    for name in workloads.SHAPES:
        a = workloads.Workload(None, name, 5, 15.0, "unused")
        b = workloads.Workload(None, name, 5, 15.0, "unused")
        c = workloads.Workload(None, name, 6, 15.0, "unused")
        sh = a.shape
        assert a.total_events == sh.segment_events * sh.n_files
        assert sh.segment_events % workloads.SCRAMBLE_SPAN == 0
        assert a.total_events <= 256 * workloads.SCRAMBLE_SPAN
        assert a.sample_convs[0] == workloads.conv_key(0)
        assert (a.sample_convs, a.round_keys, a.round_multi) == \
            (b.sample_convs, b.round_keys, b.round_multi)
        assert a.round_multi != c.round_multi
        assert 0 < a.chunk_lsns() < sh.segment_events * sh.n_segments


def main() -> int:
    tests = [v for k, v in sorted(globals().items())
             if k.startswith("test_") and callable(v)]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    print(f"{len(tests)} passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
