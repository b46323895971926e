"""Table integrity checker (fsck.py): a healthy table reports clean at
every depth; targeted metadata corruptions are each detected with the
right finding code. Corruptions are injected by editing the JSON the
engine itself wrote — no internal API back doors — and each check is
read-only (the report never mutates the table)."""

from __future__ import annotations

import json
import os

import pytest

from rockefeller_spark import gen
from rockefeller_spark.fsck import check_table
from rockefeller_spark.lake import LakeTable
from rockefeller_spark.merge import apply_batch
from rockefeller_spark.schema import STORED_TRANSCRIPT_SCHEMA


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"),
                         STORED_TRANSCRIPT_SCHEMA, n_buckets=8)
    ev = gen.gen_change_events(spark, n_events=6000, n_convs=40, seed=11)
    apply_batch(t, ev.filter(ev.lsn < 4000), stream_id="s", epoch=0)
    # MOR deltas too, so the delta shard's invariants are exercised
    apply_batch(t, ev.filter(ev.lsn >= 4000), stream_id="s", epoch=1,
                mode="mor")
    return t


def _reload(spark, table):
    return LakeTable.load(spark, table.path)


def _current_meta(table):
    v = table.current_version()
    path = os.path.join(table.meta_dir, f"v{v:08d}.json")
    with open(path) as f:
        return path, json.load(f)


def test_healthy_table_is_clean(spark, table):
    rep = check_table(table, deep_sample=8)
    assert rep.ok, [f"{f.code}: {f.detail}" for f in rep.findings]
    assert rep.files_seen > 0 and rep.rows_seen > 0
    assert rep.shards_seen > 0 and rep.footers_checked > 0
    # time travel: the previous snapshot checks clean too
    assert check_table(table, snapshot_id=table.current_version() - 1).ok


def test_missing_data_file_detected(spark, table):
    rep0 = check_table(table)
    victim = None
    for root, _, files in os.walk(table.data_dir):
        for f in files:
            if f.endswith(".parquet"):
                victim = os.path.join(root, f)
                break
        if victim:
            break
    os.remove(victim)
    rep = check_table(_reload(spark, table))
    assert not rep.ok
    assert any(f.code == "missing-data-file" for f in rep.errors())
    assert rep0.ok     # the pre-deletion report was clean


def test_manifest_aggregate_drift_detected(spark, table):
    path, meta = _current_meta(table)
    meta["manifests"][0]["n_files"] += 1
    meta["manifests"][0]["rows"] += 7
    with open(path, "w") as f:
        json.dump(meta, f)
    rep = check_table(_reload(spark, table))
    codes = {f.code for f in rep.errors()}
    assert "aggregate-n-files" in codes and "aggregate-rows" in codes


def test_overlapping_ranges_detected(spark, table):
    path, meta = _current_meta(table)
    spans = [m for m in meta["manifests"] if m.get("lo") is not None]
    assert len(spans) >= 2, "need two ranged shards to overlap"
    spans[1]["lo"] = spans[0]["lo"]          # second range now overlaps first
    with open(path, "w") as f:
        json.dump(meta, f)
    rep = check_table(_reload(spark, table))
    assert any(f.code == "overlapping-ranges" for f in rep.errors())


def test_stamped_bounds_corruption_detected_deep(spark, table):
    # invert one file's stamped lsn bounds inside its manifest shard
    _, meta = _current_meta(table)
    shard_rel = meta["manifests"][0]["path"]
    shard_path = os.path.join(table.path, shard_rel)
    with open(shard_path) as f:
        shard = json.load(f)
    cols = shard["cols"]
    for key in ("min_lsn", "max_lsn"):
        if isinstance(cols.get(key), dict):      # constant-encoded: expand
            cols[key] = [cols[key]["="]] * shard["n"]
    cols["min_lsn"][0], cols["max_lsn"][0] = (cols["max_lsn"][0] + 10,
                                              cols["min_lsn"][0])
    os.chmod(shard_path, 0o644)
    with open(shard_path, "w") as f:
        json.dump(shard, f)
    rep = check_table(_reload(spark, table), deep_sample=64)
    codes = {f.code for f in rep.errors()}
    assert "inverted-lsn-bounds" in codes
    # the footer cross-check independently catches the drifted stamp
    assert "footer-lsn-outside-bounds" in codes


def test_cli_needs_no_spark_session(table, capsys):
    """The CLI loads the table with spark=None — an operator can fsck
    while the cluster is down."""
    from rockefeller_spark.fsck import main
    assert main([table.path, "--deep", "4"]) == 0
    out = capsys.readouterr().out
    assert "OK v" in out and "0 errors" in out


def test_unreadable_snapshot_reported_not_raised(spark, table):
    path, _ = _current_meta(table)
    with open(path, "w") as f:
        f.write("{corrupt json")
    # load() itself raises on a corrupt pointer — fsck must instead
    # REPORT it, so hand it a bare handle the way the CLI would
    rep = check_table(LakeTable(spark, table.path))
    assert not rep.ok
    assert rep.findings[0].code == "unreadable-snapshot"


def test_refs_and_staged_findings(spark, table):
    """Healthy tags/stages report clean; a hand-deleted tag target and a
    swept-away staged file are each caught with the right code."""
    from rockefeller_spark.cdc import dedupe_lww, winners_to_stored
    from rockefeller_spark import gen as _g
    from pyspark.sql import functions as F

    table.tag("ok", table.current_version())
    extra = winners_to_stored(dedupe_lww(
        _g.gen_change_events(spark, 200, 5, seed=71)
        .withColumn("conv_id", F.concat(F.lit("f-"), F.col("conv_id"))),
        order_col="lsn"))
    wap = table.stage_append(extra)
    rep = check_table(table)
    assert rep.ok, [f"{x.code}: {x.detail}" for x in rep.findings]

    # corrupt 1: tag points at a snapshot someone hand-deleted
    table.tag("dangling", 1)
    os.remove(os.path.join(table.meta_dir, "v00000001.json"))
    # corrupt 2: a staged data file vanished out-of-band
    victim = table.staged()[wap]["adds"][0]["path"]
    os.remove(os.path.join(table.path, victim))
    rep = check_table(table)
    codes = {x.code for x in rep.findings}
    assert "tag-target-missing" in codes
    assert "branch-file-missing" in codes
