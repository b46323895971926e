"""Metric definitions of the CDC benchmark and their computation.

``END_TO_END`` and ``PER_LAYER`` are the metric catalogue (name, unit,
direction); ``BENCHMARK.json`` at the checkout root lists the same names
and ``selftest.py`` checks that the two agree. End-to-end metrics come
from untraced runs, per-layer metrics from the traced run.
"""

from __future__ import annotations

import statistics
from typing import Any

from spans import SparkCost, Span, Tracer, median

# name → (unit, better)
END_TO_END: dict[str, tuple[str, str]] = {
    "setup_s": ("s", "lower"),
    "apply_cpu_us_per_event": ("us", "lower"),
    "read_cpu_ms_per_op": ("ms", "lower"),
    "table_bytes_per_row": ("B", "lower"),
    "bytes_written_per_event": ("B", "lower"),
}

_SPARK_ALL = ["jobs", "stages", "tasks", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "executor_run_s",
              "executor_cpu_s", "gc_s", "input_bytes", "output_bytes",
              "task_skew"]
# layer → Spark cost fields reported for it (inclusive of child spans)
_SPARK_FIELDS: dict[str, list[str]] = {
    "merge.apply_batch": _SPARK_ALL,
    "catchup.catch_up": ["jobs", "shuffle_write_bytes", "executor_run_s",
                         "task_skew"],
    "maintenance.maintain": ["jobs", "shuffle_write_bytes",
                             "executor_run_s", "output_bytes"],
    "lake.lookup": ["jobs", "tasks", "input_bytes"],
    "lake.lookup_many": ["jobs", "tasks", "input_bytes"],
    "merge.read_state": ["jobs", "shuffle_write_bytes", "shuffle_read_bytes",
                         "input_bytes", "executor_run_s"],
}
_SPARK_UNIT = {"jobs": "count", "stages": "count", "tasks": "count",
               "task_skew": "ratio"}


def _unit(field: str) -> str:
    if field in _SPARK_UNIT:
        return _SPARK_UNIT[field]
    return "s" if field.endswith("_s") else "B"


def _per_layer_catalogue() -> dict[str, tuple[str, str]]:
    cat: dict[str, tuple[str, str]] = {}

    def add(name: str, unit: str, better: str = "lower") -> None:
        cat[name] = (unit, better)

    for layer in ("merge.apply_batch", "catchup.catch_up",
                  "maintenance.maintain", "lake.lookup", "lake.lookup_many",
                  "merge.read_state"):
        add(f"{layer}.p50_s", "s")
        add(f"{layer}.total_s", "s")
        add(f"{layer}.self_s", "s")
        for f in _SPARK_FIELDS[layer]:
            add(f"{layer}.{f}", _unit(f))
    add("merge.apply_batch.calls", "count")
    for f in ("census_s", "stage_s", "commit_s"):
        add(f"merge.apply_batch.{f}", "s")
    add("merge.apply_batch.events_in", "count", "higher")
    for f in ("rows_written", "buckets_touched", "attempts", "rebased"):
        add(f"merge.apply_batch.{f}", "count")
    add("catchup.catch_up.chunks_committed", "count")
    add("catchup.catch_up.read_s", "s")
    add("catchup.catch_up.apply_s", "s")
    add("catchup.catch_up.degradations", "count")
    add("catchup.chunk.p50_s", "s")
    add("catchup.chunk.coverage_min", "share", "higher")
    add("stream.batches", "count")
    add("stream.batch_p50_s", "s")
    add("stream.batch_total_p50_s", "s")
    add("stream.trigger_overhead_p50_s", "s")
    add("stream.quarantine_s", "s")
    add("quarantine.split_quarantine_observed.p50_s", "s")
    add("stream.jobs_per_batch", "count")
    add("stream.coverage_min", "share", "higher")
    add("maintenance.maintain.calls", "count")
    add("maintenance.maintain.compactions", "count")
    add("lake.stats.data_files", "count")
    add("lake.stats.delta_files", "count")
    add("lake.stats.snapshots", "count")
    add("gen.gen_change_events.wall_s", "s")
    add("merge.bootstrap.wall_s", "s")
    add("trace.bookkeeping_s", "s")
    add("trace.traced_ingest_s", "s")
    add("trace.spans", "count")
    return cat


PER_LAYER: dict[str, tuple[str, str]] = _per_layer_catalogue()


def end_to_end(s, setup_s: float) -> dict[str, float]:
    if s.catchup_runs:
        # backlog: the median of its timed catch-ups of the same WAL
        apply_cpu = median([c / e for e, _, c in s.catchup_runs])
    else:
        apply_cpu = s.ingest_cpu_s / max(s.events, 1)
    return {
        "setup_s": setup_s,
        "apply_cpu_us_per_event": apply_cpu * 1e6,
        "read_cpu_ms_per_op": s.read_cpu_s / max(s.reads, 1) * 1e3,
        "table_bytes_per_row": s.bytes_stored / max(s.visible_rows, 1),
        "bytes_written_per_event": s.bytes_written / max(s.events, 1),
    }


# ------------------------------------------------------------- per layer
def _structure(tr: Tracer, s) -> None:
    """Add the post-hoc spans: catch-up chunks (each chunk's read and
    apply re-parented under it) and the phases of each stream batch."""
    by_name: dict[str, list[Span]] = {}
    for sp in tr.spans:
        by_name.setdefault(sp.name, []).append(sp)
    for cu in by_name.get("catchup.catch_up", []):
        reads = [r for r in by_name.get("catchup.read", [])
                 if r.parent == cu.id and r.attrs.get("max_lsn") is not None]
        applies = [a for a in by_name.get("merge.apply_batch", [])
                   if a.parent == cu.id]
        for rd, ap in zip(reads, applies):
            ch = tr.add("catchup.chunk", rd.start, ap.end, cu.id)
            rd.parent = ap.parent = ch.id
    batches = {sp.batch: sp for sp in by_name.get("stream.batch", [])}
    for row in s.batch_rows:
        sp = batches.get(row["batch_id_seq"])
        if sp is None:
            continue
        fb_end = row["t_end"]
        fb_start = fb_end - row["batch_total_s"]
        tr.add("stream.trigger", sp.start, max(fb_start, sp.start), sp.id)
        tr.add("stream.finish", min(fb_end, sp.end), sp.end, sp.id)
        aps = [a for a in by_name.get("merge.apply_batch", [])
               if a.parent == sp.id]
        if aps and row.get("quarantine_s"):
            q0 = aps[-1].end
            tr.add("stream.quarantine", q0, q0 + row["quarantine_s"], sp.id)


def per_layer(tr: Tracer, s, cost: SparkCost | None,
              stream_groups: set[str]) -> dict[str, float]:
    _structure(tr, s)
    kids = tr.children()
    by_name: dict[str, list[Span]] = {}
    for sp in tr.spans:
        by_name.setdefault(sp.name, []).append(sp)
    own_jobs = cost.assign(tr, stream_groups) if cost is not None else {}

    def inclusive_jobs(sp: Span) -> list[dict]:
        out = list(own_jobs.get(sp.id, ()))
        for c in kids.get(sp.id, ()):
            out += inclusive_jobs(c)
        return out

    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    for layer, fields in _SPARK_FIELDS.items():
        spans = by_name.get(layer, [])
        m[f"{layer}.p50_s"] = median([x.duration for x in spans])
        m[f"{layer}.total_s"] = sum(x.duration for x in spans)
        m[f"{layer}.self_s"] = sum(tr.self_time(x, kids) for x in spans)
        if cost is None or not spans:
            continue
        jobs = [inclusive_jobs(x) for x in spans]
        tot: dict[str, float] = {}
        for js in jobs:
            for k, v in cost.cost(js).items():
                tot[k] = tot.get(k, 0.0) + v
        for f in fields:
            if f == "task_skew":
                sk = [v for v in (cost.task_skew(js) for js in jobs if js)
                      if v is not None]
                m[f"{layer}.task_skew"] = median(sk)
            else:
                m[f"{layer}.{f}"] = tot.get(f, 0.0)

    ap = by_name.get("merge.apply_batch", [])
    m["merge.apply_batch.calls"] = float(len(ap))
    for f in ("census_s", "stage_s", "commit_s", "events_in", "rows_written",
              "buckets_touched", "attempts", "rebased"):
        m[f"merge.apply_batch.{f}"] = float(
            sum(x.attrs.get(f, 0) or 0 for x in ap))
    for f in ("chunks_committed", "read_s", "apply_s", "degradations"):
        m[f"catchup.catch_up.{f}"] = float(sum(
            sp.attrs.get(f, 0) for sp in by_name.get("catchup.catch_up", [])))
    chunks = by_name.get("catchup.chunk", [])
    m["catchup.chunk.p50_s"] = median([c.duration for c in chunks])
    m["catchup.chunk.coverage_min"] = min(
        (tr.coverage(c, kids) for c in chunks), default=0.0)

    batches = by_name.get("stream.batch", [])
    m["stream.batches"] = float(len(batches))
    m["stream.batch_p50_s"] = median([b.duration for b in batches])
    m["stream.batch_total_p50_s"] = median(
        [r["batch_total_s"] for r in s.batch_rows])
    m["stream.trigger_overhead_p50_s"] = median(
        [r["latency_s"] - r["batch_total_s"] for r in s.batch_rows])
    m["stream.quarantine_s"] = float(
        sum(r.get("quarantine_s", 0.0) for r in s.batch_rows))
    m["quarantine.split_quarantine_observed.p50_s"] = median(
        [x.duration for x in by_name.get(
            "quarantine.split_quarantine_observed", [])])
    if batches and cost is not None:
        m["stream.jobs_per_batch"] = statistics.fmean(
            len(inclusive_jobs(b)) for b in batches)
    m["stream.coverage_min"] = min(
        (tr.coverage(b, kids) for b in batches), default=0.0)

    mt = by_name.get("maintenance.maintain", [])
    m["maintenance.maintain.calls"] = float(len(mt))
    m["maintenance.maintain.compactions"] = float(
        sum(x.attrs.get("compacted", 0) for x in mt))
    for k in ("data_files", "delta_files", "snapshots"):
        m[f"lake.stats.{k}"] = float(s.stats.get(k, 0))
    m["gen.gen_change_events.wall_s"] = s.gen_wall
    m["merge.bootstrap.wall_s"] = s.bootstrap_wall
    m["trace.bookkeeping_s"] = tr.bookkeeping_s
    m["trace.traced_ingest_s"] = s.ingest_s
    m["trace.spans"] = float(len(tr.spans))
    return m


def as_metrics(values: dict[str, float],
               catalogue: dict[str, tuple[str, str]]) -> dict[str, Any]:
    return {k: {"value": float(values.get(k, 0.0)), "unit": catalogue[k][0]}
            for k in catalogue}
