"""Correctness gate and determinism self-check of the CDC benchmark.

The gate runs after the timed phase, untimed:

1. every timed ``read_state`` scan's (row count, row-hash sum) equals an
   independent plain-Spark window LWW (``row_number`` over key, by LSN
   descending) over base ∪ the applied WAL;
2. ``read_state`` on a sample of conversations (hot conversation 0
   always among them) equals ``oracle.replay`` of their events;
3. every ``lookup``/``lookup_many`` result, resolved last-writer-wins,
   equals ``oracle.replay`` of those conversations over the WAL segments
   that were committed when the lookup ran.

Each mismatch is one failed operation. The determinism self-check
compares the run's write-side counters (of its set-up and of its timed
phase) with the record an earlier run of the same seed and the same code
left behind; the first run of a seed writes that record. Within a
``backlog`` run, its timed catch-ups of the same backlog must also
commit the same chunks and write the same bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Any

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from rockefeller_spark import gen
from rockefeller_spark.merge import read_state
from rockefeller_spark.oracle import replay
from rockefeller_spark.schema import KEY_COLS

from workloads import MAX_TURNS, USER_COLS, Workload, fingerprint_cols


def _norm(df: pd.DataFrame) -> list[tuple]:
    """Rows as sorted tuples, every null spelled None."""
    if df is None or len(df) == 0:
        return []
    sub = df[USER_COLS].astype(object)
    sub = sub.where(pd.notna(sub), None)
    return sorted((tuple(r) for r in sub.itertuples(index=False)),
                  key=lambda t: (t[0], t[1]))


def resolve_stored(df: pd.DataFrame) -> pd.DataFrame:
    """Stored rows (possibly several versions per key under MOR) → the
    visible rows: max ``_lsn`` per key, tombstones dropped."""
    if len(df) == 0:
        return df
    df = (df.sort_values("_lsn", kind="mergesort")
            .drop_duplicates(KEY_COLS, keep="last"))
    return df[~df["_deleted"].astype(bool)]


def plain_lww(spark, w: Workload) -> tuple[int, int]:
    """Expected (rows, fingerprint) of the final table, computed with a
    plain window over base ∪ WAL — no engine code on the path."""
    sh = w.shape
    base = (gen.gen_transcripts(spark, n_convs=sh.n_convs,
                                max_turns=MAX_TURNS, seed=w.seed)
            .select(*USER_COLS, F.lit(-1).cast("long").alias("lsn"),
                    F.lit("I").alias("op")))
    ev = spark.read.parquet(w.dirs["src"]).select(*USER_COLS, "lsn", "op")
    win = Window.partitionBy(*KEY_COLS).orderBy(F.col("lsn").desc())
    last = (base.unionByName(ev)
            .withColumn("_r", F.row_number().over(win))
            .filter((F.col("_r") == 1) & (F.col("op") != "D")))
    row = last.agg(*fingerprint_cols()).collect()[0]
    return int(row["n"]), int(row["fp"] or 0)


class Oracle:
    """``oracle.replay`` of chosen conversations over the first segments
    of the WAL, one replay per distinct segment count."""

    def __init__(self, spark, w: Workload, convs: set[str]):
        keys = sorted(convs)
        ev = (spark.read.parquet(w.dirs["src"])
              .filter(F.col("conv_id").isin(keys))
              .withColumn("_seg", F.regexp_extract(
                  F.input_file_name(), r"seg-(\d+)\.parquet", 1)
                  .cast("int"))
              .toPandas())
        base = (gen.gen_transcripts(spark, n_convs=w.shape.n_convs,
                                    max_turns=MAX_TURNS, seed=w.seed)
                .filter(F.col("conv_id").isin(keys)).toPandas())
        self.ev, self.base = ev, base
        self._rows: dict[tuple[str, int], list[tuple]] = {}

    def replay_upto(self, convs: set[str], landed: int) -> None:
        """Replay ``convs`` over segments 0..``landed``."""
        keys = sorted(convs)
        ev = self.ev[(self.ev["_seg"] <= landed)
                     & self.ev["conv_id"].isin(keys)].drop(columns="_seg")
        out = replay(ev, self.base[self.base["conv_id"].isin(keys)])
        by_conv = {k: g for k, g in out.groupby("conv_id")}
        for k in keys:
            self._rows[(k, landed)] = _norm(by_conv.get(k))

    def rows(self, conv: str, landed: int) -> list[tuple]:
        return self._rows[(conv, landed)]


def correctness_gate(spark, w: Workload) -> tuple[int, list[str]]:
    """Run the gate; returns (operations checked, failure messages)."""
    s = w.s
    checked = 0
    problems: list[str] = []
    want = plain_lww(spark, w)
    checked += 1
    if not s.scan_results:
        problems.append("no scan completed")
    for i, got in enumerate(s.scan_results):
        if got != want:
            problems.append(f"scan {i}: (rows, fp) {got} != plain LWW {want}")

    landed = w.last_segment
    needs: dict[int, set[str]] = {landed: set(w.sample_convs)}
    for keys, upto, _ in s.lookups:
        needs.setdefault(upto, set()).update(keys)
    oracle = Oracle(spark, w, set().union(*needs.values()))
    for upto, convs in needs.items():
        oracle.replay_upto(convs, upto)
    state = (read_state(w.table).filter(F.col("conv_id").isin(w.sample_convs))
             .toPandas())
    for conv in w.sample_convs:
        checked += 1
        got = _norm(state[state["conv_id"] == conv])
        if got != oracle.rows(conv, landed):
            problems.append(f"read_state {conv} differs from oracle.replay")

    for keys, upto, rows in s.lookups:
        got = _norm(resolve_stored(rows))
        want_rows = sorted((r for k in keys for r in oracle.rows(k, upto)),
                           key=lambda t: (t[0], t[1]))
        if got != want_rows:
            problems.append(f"lookup {keys[:3]}.. after segment {upto} "
                            "differs from oracle.replay")
    return checked, problems


# --------------------------------------------------------- determinism
def code_hash(repo_root: str) -> str:
    """Hash of the engine and benchmark sources: a determinism record is
    only compared against a run of the same code."""
    h = hashlib.sha256()
    for sub in ("rockefeller_spark", os.path.basename(
            os.path.dirname(os.path.abspath(__file__)))):
        d = os.path.join(repo_root, sub)
        for name in sorted(os.listdir(d)):
            if name.endswith(".py"):
                h.update(name.encode())
                with open(os.path.join(d, name), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def determinism_check(w: Workload, record_dir: str,
                      digest: str) -> list[str]:
    problems: list[str] = []
    for i, c in enumerate(w.s.rep_counters[1:], 2):
        if c != w.s.rep_counters[0]:
            problems.append(f"catch-up {i} counters {c} != catch-up 1 "
                            f"{w.s.rep_counters[0]}")
    os.makedirs(record_dir, exist_ok=True)
    path = os.path.join(record_dir, f"{w.name}-seed{w.seed}.json")
    record = {"code": digest, "setup": w.s.setup_counters,
              "timed": w.s.counters}
    try:
        with open(path) as fh:
            prev: dict[str, Any] | None = json.load(fh)
    except (FileNotFoundError, json.JSONDecodeError):
        prev = None
    if prev is not None and prev.get("code") == digest:
        for part in ("setup", "timed"):
            if prev.get(part) != json.loads(json.dumps(record[part])):
                problems.append(f"{part} counters {record[part]} differ "
                                f"from an earlier run {prev.get(part)}")
    else:
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(record, fh)
        os.replace(tmp, path)
    return problems
