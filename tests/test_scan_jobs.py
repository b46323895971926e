"""Building a table scan launches no Spark job, at any file count.

LakeTable.read hands the scan its exact file paths from the manifests.
Spark lists more than ``parallelPartitionDiscovery.threshold`` (default
32) paths with a distributed job, one task per path; the engine's session
and every LakeTable handle raise that threshold so no scan pays for a
listing job.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd

from rockefeller_spark import gen
from rockefeller_spark.lake import LakeTable
from rockefeller_spark.merge import apply_batch, read_state
from rockefeller_spark.oracle import replay
from rockefeller_spark.schema import STORED_TRANSCRIPT_SCHEMA


def test_scans_over_many_files_launch_no_job(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"),
                             STORED_TRANSCRIPT_SCHEMA, n_buckets=32)
    ev = gen.gen_change_events(spark, n_events=4000, n_convs=200, seed=91)
    pdf = ev.toPandas()
    # one CoW batch lays down the bucket files, three MOR batches append
    # bucket-spanning deltas on top
    for k, mode in enumerate(["cow", "mor", "mor", "mor"]):
        apply_batch(table, spark.createDataFrame(pdf[pdf.lsn % 4 == k],
                                                 ev.schema), mode=mode)
    snap = table.current()
    assert snap.multi_version
    deltas = sum(f.bucket is None for f in snap.files)
    assert 3 <= deltas < len(snap.files)
    assert len(snap.files) > 32

    keys = sorted(pdf.conv_id.unique())
    sc = spark.sparkContext
    sc.setJobGroup("scan-build", "must run no jobs")
    try:
        scan = table.read()
        state = read_state(table)
        many = table.lookup_many(keys)
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("scan-build") == []
    assert len(scan.inputFiles()) == len(snap.files)
    assert len(many.inputFiles()) > 32

    got = state.toPandas().sort_values(["conv_id", "turn_idx"]) \
        .reset_index(drop=True)
    want = replay(pdf)
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want,
                                  check_dtype=False)


# Runs in a subprocess: an in-process session would inherit the test
# session's engine confs through getOrCreate.
_VANILLA_SCAN = r"""
import sys
from pyspark.sql import SparkSession
from rockefeller_spark import gen
from rockefeller_spark.lake import LakeTable
from rockefeller_spark.merge import apply_batch, read_state
from rockefeller_spark.schema import STORED_TRANSCRIPT_SCHEMA
spark = SparkSession.builder.master("local[2]").getOrCreate()
table = LakeTable.create(spark, sys.argv[1], STORED_TRANSCRIPT_SCHEMA,
                         n_buckets=32)
ev = gen.gen_change_events(spark, n_events=4000, n_convs=200, seed=91)
for k, mode in enumerate(["cow", "mor", "mor", "mor"]):
    apply_batch(table, ev.filter(f"lsn % 4 = {k}"), mode=mode)
sc = spark.sparkContext
sc.setJobGroup("scan-build", "must run no jobs")
read_state(table)
sc.setJobGroup("", "")
print("VANILLA_SCAN", len(table.current().files),
      len(sc.statusTracker().getJobIdsForGroup("scan-build")))
spark.stop()
"""


def test_scan_on_vanilla_session_launches_no_job(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", _VANILLA_SCAN, str(tmp_path / "t")],
        env=env, cwd=repo, capture_output=True, text=True, timeout=600)
    line = [ln for ln in proc.stdout.splitlines()
            if ln.startswith("VANILLA_SCAN")]
    assert line, proc.stderr[-4000:]
    n_files, n_jobs = map(int, line[-1].split()[1:])
    assert n_files > 32
    assert n_jobs == 0
