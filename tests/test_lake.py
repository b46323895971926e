"""icelake table layer: commit atomicity, conflicts, evolution, time travel."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from rockefeller_spark import gen
from rockefeller_spark.lake import CommitConflictError, LakeTable
from rockefeller_spark.merge import apply_batch, bootstrap, read_state
from rockefeller_spark.schema import (CHANGE_EVENT_SCHEMA_V2,
                                      STORED_TRANSCRIPT_SCHEMA, evolve_additive)


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(spark, str(tmp_path / "t"),
                            STORED_TRANSCRIPT_SCHEMA, n_buckets=4)


def test_create_load_exists(spark, tmp_path, table):
    assert LakeTable.exists(table.path)
    assert not LakeTable.exists(str(tmp_path / "nope"))
    t2 = LakeTable.load(spark, table.path)
    assert t2.current_version() == 0
    with pytest.raises(FileExistsError):
        LakeTable.create(spark, table.path, STORED_TRANSCRIPT_SCHEMA)


def test_non_key_bucket_col_rejected(spark, tmp_path, table):
    """Apply and compaction resolve LWW per (bucket, key): with a bucket
    column outside the key, two versions of one key could land in
    different buckets and both survive. create() refuses such a column,
    and so does loading metadata written before the check existed."""
    with pytest.raises(ValueError, match="bucket_col 'role'"):
        LakeTable.create(spark, str(tmp_path / "bad"),
                         STORED_TRANSCRIPT_SCHEMA, bucket_col="role")
    assert not LakeTable.exists(str(tmp_path / "bad"))
    meta = os.path.join(table.path, "metadata", "v00000000.json")
    with open(meta) as fh:
        d = json.load(fh)
    d["bucket_col"] = "role"
    with open(meta, "w") as fh:
        json.dump(d, fh)
    with pytest.raises(ValueError, match="not a key column"):
        LakeTable.load(spark, table.path)


def test_commit_conflict_single_winner(spark, table):
    base = gen.gen_transcripts(spark, n_convs=5, seed=1)
    bootstrap(table, base)
    snap = table.current()
    # a second writer racing to the same version loses
    with pytest.raises(CommitConflictError):
        table.commit([], set(), expected_version=snap.snapshot_id - 1)
    # and a stale expected_version is refused before any metadata write
    from rockefeller_spark.lake import Snapshot
    sn = Snapshot(snap.snapshot_id, snap.parent_id, snap.schema,
                  snap.n_buckets, snap.bucket_col, [])
    with pytest.raises(CommitConflictError):
        table._write_snapshot(sn)  # same version already exists


def test_orphan_metadata_invisible(spark, table):
    """Crash between metadata write and hint swap: readers never see it."""
    bootstrap(table, gen.gen_transcripts(spark, n_convs=5, seed=2))
    v = table.current_version()
    d = table.current().to_json()
    d["snapshot_id"] = v + 1
    with open(table._meta_path(v + 1), "w") as fh:
        json.dump(d, fh)
    assert LakeTable.load(spark, table.path).current_version() == v
    os.remove(table._meta_path(v + 1))


def test_history_and_time_travel(spark, table):
    ev = gen.gen_change_events(spark, n_events=400, n_convs=10, seed=3)
    pdf = ev.toPandas()
    apply_batch(table, spark.createDataFrame(pdf[pdf.lsn < 200], ev.schema))
    apply_batch(table, spark.createDataFrame(pdf[pdf.lsn >= 200], ev.schema))
    hist = table.history()
    assert [s.snapshot_id for s in hist] == [0, 1, 2]
    v1 = read_state(table, snapshot_id=1).count()
    v2 = read_state(table, snapshot_id=2).count()
    assert 0 < v1 <= v2
    # lineage recorded per commit
    assert hist[1].lineage["rows_written"] > 0
    assert hist[1].lineage["per_bucket"]


def test_applied_lsns_view(spark, table):
    ev = gen.gen_change_events(spark, n_events=300, n_convs=10, seed=4)
    apply_batch(table, ev)
    al = table.applied_lsns().toPandas()
    assert (al.max_lsn <= 299).all()
    assert al.max_lsn.max() >= 290  # high-water mark near the top lsn


def test_schema_evolution_no_rewrite(spark, table):
    ev1 = gen.gen_change_events(spark, n_events=300, n_convs=10, seed=5)
    apply_batch(table, ev1)
    files_before = {f.path for f in table.current().files}
    table.evolve(CHANGE_EVENT_SCHEMA_V2)  # metadata-only
    assert {f.path for f in table.current().files} == files_before
    cols = [f.name for f in table.current().schema.fields]
    assert "tool_call_id" in cols and "latency_ms" in cols
    # old files read back null-filled through the evolved schema
    st = read_state(table)
    assert st.filter(F.col("latency_ms").isNotNull()).count() == 0


def test_evolve_additive_rules():
    import pyspark.sql.types as T
    base = T.StructType([T.StructField("a", T.StringType(), False)])
    inc = T.StructType([T.StructField("a", T.StringType(), False),
                        T.StructField("b", T.IntegerType(), True)])
    out = evolve_additive(base, inc)
    assert [f.name for f in out.fields] == ["a", "b"]
    bad = T.StructType([T.StructField("a", T.IntegerType(), True)])
    with pytest.raises(ValueError):
        evolve_additive(base, bad)


def test_normalize_columns(spark):
    from rockefeller_spark.normalize import normalize_columns, normalize_name
    assert normalize_name("Stock Splits") == "stock_splits"
    assert normalize_name("  Op. Margin (%) ") == "op_margin"
    df = spark.range(1).select(F.lit(1).alias("A  B!"), F.lit(2).alias("c_d"))
    assert normalize_columns(df).columns == ["a_b", "c_d"]
    clash = spark.range(1).select(F.lit(1).alias("a b"), F.lit(2).alias("A_B"))
    with pytest.raises(ValueError):
        normalize_columns(clash)


def test_normalize_columns_pandas_interop():
    """The reference injects .normalize into pandas AND polars frames
    (df_manipulation.py:103-114); the engine's dispatch covers non-Spark
    frames driver-side with the same rules and guards."""
    import pandas as pd
    from rockefeller_spark.normalize import normalize_columns
    pdf = pd.DataFrame({"Stock Splits": [1], "  Op. Margin (%) ": [2.0]})
    out = normalize_columns(pdf)
    assert list(out.columns) == ["stock_splits", "op_margin"]
    assert list(pdf.columns) == ["Stock Splits", "  Op. Margin (%) "]  # no mutation
    with pytest.raises(ValueError):
        normalize_columns(pd.DataFrame())
    with pytest.raises(ValueError):
        normalize_columns(pd.DataFrame({"a b": [1], "A_B": [2]}))


def test_expire_snapshots_gc(spark, table):
    """After expiry: current reads work, retained time travel works,
    expired time travel raises cleanly, unreferenced data files and
    crash-orphan stage dirs are physically removed."""
    ev = gen.gen_change_events(spark, n_events=800, n_convs=10, seed=61)
    pdf = ev.toPandas()
    for k in range(4):  # snapshots v1..v4
        apply_batch(table, spark.createDataFrame(pdf[pdf.lsn % 4 == k], ev.schema))
    before = read_state(table).toPandas()
    # plant crash leftovers: a stage dir and a data file no snapshot owns
    os.makedirs(os.path.join(table.path, ".stage-deadbeef"), exist_ok=True)
    orphan = os.path.join(table.data_dir, "orphan-b00000.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")
    n_files_before = len(os.listdir(table.data_dir))

    # default grace: files referenced by EXPIRED snapshots go immediately,
    # but fresh true-orphans (indistinguishable from an in-flight commit's
    # staged-in files) are retained until they age past the grace window
    stats = table.expire_snapshots(keep_last=2)
    assert stats["expired_snapshots"] == 3          # v0, v1, v2
    assert stats["orphan_dirs_removed"] == 0
    assert stats["deleted_files"] > 0
    assert os.path.exists(orphan)
    assert os.path.exists(os.path.join(table.path, ".stage-deadbeef"))

    # grace elapsed (forced to 0): crash leftovers are reclaimed
    stats = table.expire_snapshots(keep_last=2, orphan_grace_s=0.0)
    assert stats["orphan_dirs_removed"] == 1
    assert not os.path.exists(orphan)
    assert not os.path.exists(os.path.join(table.path, ".stage-deadbeef"))
    assert len(os.listdir(table.data_dir)) < n_files_before

    # current + retained reads intact
    after = read_state(table).toPandas()
    assert after.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True) \
        .equals(before.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    assert table.read(3).count() >= 0               # retained time travel
    assert [s.snapshot_id for s in table.history()] == [3, 4]
    # every file still on disk is referenced by a retained snapshot
    referenced = {os.path.basename(f.path)
                  for s in table.history() for f in s.files}
    assert set(os.listdir(table.data_dir)) == referenced
    # expired time travel raises cleanly
    with pytest.raises(ValueError, match="expired"):
        table.read(1)
    # the table keeps working after expiry
    apply_batch(table, spark.createDataFrame(pdf[pdf.lsn % 4 == 3], ev.schema))
    assert table.current_version() == 5


def test_requeue_quarantine_redrive(spark, table):
    """The retry ladder: corrupt -> quarantine -> fix upstream -> re-drive;
    final state equals the oracle over the original (uncorrupted) log."""
    from rockefeller_spark.oracle import replay
    from rockefeller_spark.quarantine import requeue_quarantine, split_quarantine
    ev = gen.gen_change_events(spark, n_events=1000, n_convs=10, seed=67)
    # upstream bug: op 'U' emitted as unknown 'W' for a slice of events
    corrupted = ev.withColumn(
        "op", F.when((F.col("lsn") % 13 == 0) & (F.col("op") == "U"),
                     F.lit("W")).otherwise(F.col("op")))
    good, bad = split_quarantine(corrupted)
    apply_batch(table, good)
    n_bad = bad.count()
    assert n_bad > 0

    # the fix: remap the bad op code, then re-drive the quarantined rows
    def repair(df):
        return df.withColumn(
            "op", F.when(F.col("op") == "W", F.lit("U")).otherwise(F.col("op")))
    res, still_bad = requeue_quarantine(table, bad, repair=repair)
    assert still_bad.count() == 0
    assert not res.skipped

    got = read_state(table).toPandas().sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    want = replay(ev.toPandas())
    import pandas as pd
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want,
                                  check_dtype=False)


def test_requeue_unrepaired_rows_stay_quarantined(spark, table):
    """A repair that doesn't fix a row sends it back to quarantine — it can
    never leak into the lake."""
    from rockefeller_spark.quarantine import requeue_quarantine, split_quarantine
    ev = gen.gen_change_events(spark, n_events=200, n_convs=5, seed=71)
    corrupted = ev.withColumn(
        "op", F.when(F.col("lsn") % 7 == 0, F.lit("Z")).otherwise(F.col("op")))
    _, bad = split_quarantine(corrupted)
    n_bad = bad.count()
    res, still_bad = requeue_quarantine(table, bad)   # no repair given
    assert still_bad.count() == n_bad                 # nothing fixed
    assert res.skipped                                # nothing to apply
    assert read_state(table).count() == 0


def test_incremental_bucket_compaction(spark, table):
    """Bucket-scoped compact rewrites only the requested buckets' files;
    everything else is byte-identical, and the visible state is unchanged."""
    # fragment every bucket: three appends of DISJOINT conv ranges (append
    # adds files without replacing, unlike the CoW apply)
    all_convs = gen.gen_transcripts(spark, n_convs=24, seed=1)
    for lo, hi in [(0, 8), (8, 16), (16, 24)]:
        ids = [f"c{i:08d}" for i in range(lo, hi)]
        bootstrap(table, all_convs.filter(F.col("conv_id").isin(ids)))
    before = read_state(table).toPandas()
    files_before = {f.path: f for f in table.current().files}
    target = {0, 1}
    n_target_before = sum(1 for f in files_before.values() if f.bucket in target)
    assert n_target_before > 2                     # fragments to merge

    table.compact(buckets=target)
    snap = table.current()
    assert snap.lineage == {"op": "compact", "buckets": [0, 1]}
    n_target_after = sum(1 for f in snap.files if f.bucket in target)
    assert n_target_after < n_target_before
    # untouched buckets carry over byte-identical
    untouched_before = {p for p, f in files_before.items()
                        if f.bucket not in target}
    untouched_after = {f.path for f in snap.files if f.bucket not in target}
    assert untouched_before == untouched_after
    after = read_state(table).toPandas()
    assert after.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True) \
        .equals(before.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))


def test_bucket_compaction_refuses_multiversion(spark, table):
    ev = gen.gen_change_events(spark, n_events=200, n_convs=5, seed=103)
    apply_batch(table, ev, mode="mor")
    with pytest.raises(ValueError, match="single-version"):
        table.compact(buckets={0})
    table.compact()                                # full pass folds deltas in
    table.compact(buckets={0})                     # now allowed


def test_point_lookup_prunes_to_one_bucket(spark, table):
    ev = gen.gen_change_events(spark, n_events=2000, n_convs=20, seed=109)
    apply_batch(table, ev)
    key = "c00000003"
    got = table.lookup(key).toPandas()
    want = table.read().filter(F.col("conv_id") == key).toPandas()
    assert sorted(got.turn_idx) == sorted(want.turn_idx) and len(got) > 0
    # the lookup plan reads only the key's bucket's files
    n_read = len(table.lookup(key).inputFiles())
    n_total = len(table.current().files)
    n_bucket_files = max(sum(1 for f in table.current().files
                             if f.bucket == b) for b in range(4))
    assert n_read < n_total
    assert n_read <= n_bucket_files + 1


def test_driver_side_bucket_hash_pins_to_bucket_expr(spark):
    """lookup()'s driver-side xxhash64/key_bucket must equal the Spark
    bucket_expr for a spread of keys (incl. empty, multi-byte UTF-8, and
    ≥32-byte strings that exercise the stripe loop), so a point lookup
    never needs a 1-row Spark job to find its bucket."""
    from rockefeller_spark.lake import bucket_expr, key_bucket, xxhash64
    keys = ["", "a", "cafè", "héllo wörld ünïcode", "x" * 31, "y" * 32,
            "z" * 100, "c00000003"] + [f"u{i}" for i in range(50)]
    df = spark.createDataFrame([(k,) for k in keys], ["conv_id"])
    rows = df.select("conv_id", F.xxhash64("conv_id").alias("h"),
                     bucket_expr("conv_id", 32).alias("b")).collect()
    for r in rows:
        assert xxhash64(r["conv_id"].encode("utf-8")) == r["h"]
        assert key_bucket(r["conv_id"], 32) == r["b"]


def test_compact_sorts_by_key_for_rowgroup_pruning(spark, table):
    """sort_by_key compaction (Iceberg sort-order analog): every
    compacted file holds key-sorted rows, so parquet row-group min/max
    stats are selective for point-lookup pushdown."""
    import pyarrow.parquet as pq
    ev = gen.gen_change_events(spark, n_events=3000, n_convs=40, seed=229)
    apply_batch(table, ev)
    table.compact()                                  # sort_by_key default
    checked = 0
    for f in table.current().files:
        vals = pq.read_table(os.path.join(table.path, f.path),
                             columns=["conv_id"]).column("conv_id").to_pylist()
        assert vals == sorted(vals)
        checked += 1
    assert checked > 0
    # state is unchanged by the clustering
    from rockefeller_spark.oracle import replay
    got = read_state(table).toPandas()
    want = replay(ev.toPandas())
    assert len(got) == len(want)


def test_rescale_buckets_preserves_state_and_pruning(spark, table):
    """Partition-spec evolution: grow 4 -> 16 buckets in one atomic
    commit; state identical, applies/lookups/pruning use the new count,
    pre-rescale snapshots time-travel with the OLD count."""
    from rockefeller_spark.oracle import replay
    ev = gen.gen_change_events(spark, n_events=2000, n_convs=20, seed=233)
    pdf = ev.toPandas()
    apply_batch(table, ev)
    before = read_state(table).toPandas()
    old_files = {f.path for f in table.current().files}

    table.rescale_buckets(16)
    snap = table.current()
    assert snap.n_buckets == 16
    assert {f.bucket for f in snap.files} <= set(range(16))
    assert not ({f.path for f in snap.files} & old_files)   # full rewrite
    after = read_state(table).toPandas()
    assert before.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True) \
        .equals(after.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))

    # a later apply prunes/buckets with the NEW count and stays correct
    import pandas as pd
    more = gen.gen_change_events(spark, n_events=400, n_convs=20, seed=233)
    more = more.withColumn("lsn", F.col("lsn") + 10_000_000)
    res = apply_batch(table, more)
    assert max(res.buckets_touched) < 16
    got = read_state(table).toPandas()
    want = replay(pd.concat([pdf, more.toPandas()], ignore_index=True))
    assert len(got) == len(want)

    # point lookup hashes into the new bucket space
    key = got.conv_id.iloc[0]
    assert table.lookup(key).count() > 0
    # pre-rescale time travel still reads with the old count
    assert read_state(table, snapshot_id=1).count() == len(before)


def test_rescale_buckets_resolves_pending_mor_deltas(spark, table):
    ev = gen.gen_change_events(spark, n_events=900, n_convs=9, seed=239)
    apply_batch(table, ev, mode="mor")
    assert table.current().multi_version
    n_visible = read_state(table).count()
    table.rescale_buckets(8)
    snap = table.current()
    assert snap.n_buckets == 8 and not snap.multi_version
    assert all(f.bucket is not None for f in snap.files)
    assert read_state(table).count() == n_visible


def test_rollback_restores_state_and_epoch_ledger(spark, table):
    """Rollback = new commit adopting the target's files AND epochs, so
    redelivered post-target batches re-apply (rollback-then-replay)."""
    ev = gen.gen_change_events(spark, n_events=1000, n_convs=10, seed=241)
    pdf = ev.toPandas()
    apply_batch(table, spark.createDataFrame(pdf[pdf.lsn < 500], ev.schema),
                stream_id="s", epoch=0)
    good = read_state(table).toPandas()
    apply_batch(table, spark.createDataFrame(pdf[pdf.lsn >= 500], ev.schema),
                stream_id="s", epoch=1)
    assert table.epoch_committed("s", 1)

    table.rollback(1)
    assert table.current_version() == 3                 # history preserved
    rolled = read_state(table).toPandas()
    assert good.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True) \
        .equals(rolled.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    # epoch ledger rolled back too: the undone batch re-applies on replay
    assert not table.epoch_committed("s", 1)
    res = apply_batch(table, spark.createDataFrame(pdf[pdf.lsn >= 500],
                                                   ev.schema),
                      stream_id="s", epoch=1)
    assert not res.skipped
    from rockefeller_spark.oracle import replay
    final = read_state(table).toPandas()
    want = replay(pdf)
    assert len(final) == len(want)
    # the bad snapshot (v2) stays time-travelable until expiry
    assert read_state(table, snapshot_id=2).count() == len(want)


def test_compact_target_file_size_bounds_files(spark, table):
    """Size-targeted compaction: per-bucket fan-out from metadata row
    counts — no bucket compacts into one oversized file, small buckets
    stay single-file, state is preserved."""
    ev = gen.gen_change_events(spark, n_events=6000, n_convs=30,
                               max_turns=50, seed=251)
    apply_batch(table, ev)
    table.compact(target_rows_per_file=150)
    snap = table.current()
    from collections import defaultdict
    per_bucket = defaultdict(list)
    for f in snap.files:
        per_bucket[f.bucket].append(f.rows)
    for b, sizes in per_bucket.items():
        want_files = max(1, -(-sum(sizes) // 150))
        # fan-out close to the target (hash imbalance tolerance)
        assert len(sizes) >= max(1, want_files // 2)
        assert max(sizes) <= 150 * 3
    n_files_sized = len(snap.files)
    assert n_files_sized > table.current().n_buckets   # real splitting
    # plain compact collapses back to one file per bucket
    table.compact()
    assert len(table.current().files) <= table.current().n_buckets
    from rockefeller_spark.oracle import replay
    assert read_state(table).count() == len(replay(ev.toPandas()))


def test_key_bound_file_pruning_after_sorted_compact(spark, table):
    """Per-file key bounds (Iceberg lower/upper bounds on the bucket
    column): a key-sorted size-targeted compaction RANGE-splits each
    bucket, so the files it produces carry disjoint-or-touching
    ``min_key``/``max_key`` ranges, and a point lookup opens only the
    file(s) whose range covers the key — not the whole bucket."""
    ev = gen.gen_change_events(spark, n_events=6000, n_convs=30,
                               max_turns=50, seed=263)
    apply_batch(table, ev)
    table.compact(target_rows_per_file=150)
    snap = table.current()
    from collections import defaultdict
    per_bucket = defaultdict(list)
    for f in snap.files:
        assert f.min_key is not None and f.min_key <= f.max_key
        per_bucket[f.bucket].append(f)
    split_buckets = {b: fs for b, fs in per_bucket.items() if len(fs) > 1}
    assert split_buckets, "fixture must split at least one bucket"
    for fs in split_buckets.values():
        fs = sorted(fs, key=lambda f: f.min_key)
        for a, b in zip(fs, fs[1:]):
            # ranges disjoint or touching at ONE key (a range boundary
            # may land mid-conversation via the hash tie-breaker)
            assert a.max_key <= b.min_key
    # pick a key from a split bucket and verify the lookup plan
    bucket, fs = next(iter(split_buckets.items()))
    key = min(f.min_key for f in fs)  # covered by >=1, outside >=1 file
    covering = [f for f in fs if f.min_key <= key <= f.max_key]
    assert len(covering) < len(fs)
    opened = {os.path.basename(p) for p in table.lookup(key).inputFiles()}
    bucket_files = {os.path.basename(f.path) for f in fs}
    assert opened & bucket_files  # the lookup did read this bucket
    assert len(opened & bucket_files) <= len(covering)
    for f in fs:
        if os.path.basename(f.path) in opened:
            assert f.min_key <= key <= f.max_key
    # pruning never changes the answer
    got = table.lookup(key).toPandas()
    want = (table.read().filter(F.col("conv_id") == key).toPandas())
    assert sorted(got.turn_idx) == sorted(want.turn_idx) and len(got) > 0


def test_generalized_column_stats_stamped(spark, table):
    """Every leaf column beyond the dedicated _lsn/ts/key fields gets
    [lo, hi, null_count] bounds stamped from the parquet footer
    (Iceberg per-column stats), with string bounds truncated."""
    ev = gen.gen_change_events(spark, n_events=3000, n_convs=20, seed=271)
    apply_batch(table, ev)
    for f in table.current().files:
        assert f.stats, "stats must stamp on every staged file"
        assert "turn_idx" in f.stats
        lo, hi, nulls = f.stats["turn_idx"]
        assert lo is not None and lo <= hi
        assert nulls == 0
        # dedicated columns never duplicate into stats
        assert not {"_lsn", "ts", "conv_id"} & set(f.stats)
        # string bounds respect the truncation cap
        for c, (slo, shi, _n) in f.stats.items():
            if isinstance(slo, str):
                assert len(slo) <= LakeTable.stats_truncate_chars
            if isinstance(shi, str):
                assert len(shi) <= LakeTable.stats_truncate_chars


def test_where_read_prunes_files_and_filters_rows(spark, table):
    """read(where={col: (lo, hi)}): files whose stamped bounds don't
    intersect the range are skipped before any scan (verified from
    inputFiles()), and the row filter keeps the result exact."""
    ev = gen.gen_change_events(spark, n_events=6000, n_convs=30,
                               max_turns=40, seed=277)
    from rockefeller_spark.cdc import winners_to_stored
    stored = winners_to_stored(ev)
    # turn-sliced appends => files clustered by turn_idx
    for tlo in (0, 10, 20, 30):
        table.append(stored.filter(F.col("turn_idx").between(tlo, tlo + 9)))
    snap = table.current()
    df = table.read(where={"turn_idx": (10, 19)})
    opened = {os.path.basename(p) for p in df.inputFiles()}
    all_files = {os.path.basename(f.path) for f in snap.files}
    assert opened and opened < all_files, "at least one file must prune"
    for f in snap.files:
        lo, hi, _ = f.stats["turn_idx"]
        if os.path.basename(f.path) in opened:
            assert lo <= 19 and hi >= 10
    # values match a plain filtered read
    got = sorted(map(tuple, df.select("conv_id", "turn_idx", "_lsn").collect()))
    want = sorted(map(tuple, table.read()
                      .filter(F.col("turn_idx").between(10, 19))
                      .select("conv_id", "turn_idx", "_lsn").collect()))
    assert got == want and got


def test_where_read_lsn_range_uses_dedicated_bounds(spark, table):
    """where={'_lsn': ...} prunes on the dedicated min_lsn/max_lsn file
    bounds: appends carry disjoint LSN ranges, so an LSN-windowed read
    (the 'what changed in this LSN interval' audit shape) opens only the
    overlapping appends' files."""
    ev = gen.gen_change_events(spark, n_events=4000, n_convs=20, seed=281)
    from rockefeller_spark.cdc import winners_to_stored
    stored = winners_to_stored(ev)
    mn, mx = stored.agg(F.min("_lsn"), F.max("_lsn")).collect()[0]
    step = (mx - mn) // 4 + 1
    cuts = [mn + i * step for i in range(5)]
    for lo, hi in zip(cuts, cuts[1:]):
        table.append(stored.filter((F.col("_lsn") >= lo)
                                   & (F.col("_lsn") < hi)))
    lo, hi = cuts[1], cuts[2] - 1
    df = table.read(where={"_lsn": (lo, hi)})
    snap = table.current()
    opened = {os.path.basename(p) for p in df.inputFiles()}
    assert opened and len(opened) < len(snap.files)
    for f in snap.files:
        if os.path.basename(f.path) in opened:
            assert f.min_lsn <= hi and f.max_lsn >= lo
    got = df.count()
    want = table.read().filter(F.col("_lsn").between(lo, hi)).count()
    assert got == want > 0


def test_where_read_prunes_all_null_files(spark, table):
    """A range filter matches no NULLs, so a file whose rows are ALL
    NULL for the filtered column is pruned via its null_count — even
    with no min/max bounds to test against."""
    ev = gen.gen_change_events(spark, n_events=2000, n_convs=10, seed=283)
    from rockefeller_spark.cdc import winners_to_stored
    stored = winners_to_stored(ev)
    table.append(stored.withColumn("tool", F.lit(None).cast("string")))
    table.append(stored.withColumn("tool", F.lit("browser")))
    snap = table.current()
    nullfiles = {os.path.basename(f.path) for f in snap.files
                 if f.stats["tool"][0] is None}
    assert nullfiles and len(nullfiles) < len(snap.files)
    df = table.read(where={"tool": ("a", "z")})
    opened = {os.path.basename(p) for p in df.inputFiles()}
    assert opened and not (opened & nullfiles)
    assert df.count() == stored.count()


def test_trunc_upper_bound_is_valid():
    from rockefeller_spark.lake import _trunc_lower, _trunc_upper
    s = "x" * 100 + "tail"
    lo, hi = _trunc_lower(s, 32), _trunc_upper(s, 32)
    assert len(lo) <= 32 and len(hi) <= 32
    assert lo <= s <= hi
    assert _trunc_upper("short", 32) == "short"
    # surrogate block is skipped when bumping
    s2 = "a" * 31 + "퟿" + "zz"
    hi2 = _trunc_upper(s2, 32)
    assert hi2 >= s2 and not (0xD800 <= ord(hi2[-1]) <= 0xDFFF)


def test_zorder_compact_prunes_both_dimensions(spark, table):
    """compact(zorder_by=["ts","turn_idx"]) clusters each bucket's files
    so BOTH a time-range read and a turn_idx where= read prune files —
    the trade a single-column key sort can't make (its trailing columns
    scatter across every file)."""
    ev = gen.gen_change_events(spark, n_events=8000, n_convs=24,
                               max_turns=40, seed=401)
    apply_batch(table, ev)
    before = read_state(table).toPandas()

    # A: key-sorted sized compaction (the default layout)
    table.compact(target_rows_per_file=500)
    snap_a = table.current()
    # pick a ts slice covering ~1/4 of the range
    all_ts = sorted(t for f in snap_a.files for t in (f.min_ts, f.max_ts)
                    if t is not None)
    lo, hi = all_ts[0], all_ts[len(all_ts) // 4]
    a_ts_opened = len(table.read(ts_range=(lo, hi)).inputFiles())
    a_turn_opened = len(table.read(where={"turn_idx": (0, 4)}).inputFiles())
    a_total = len(snap_a.files)

    # B: z-order compaction over (ts, turn_idx)
    table.compact(zorder_by=["ts", "turn_idx"], target_rows_per_file=500)
    snap_b = table.current()
    b_total = len(snap_b.files)
    assert all(f.sorted_by == ["z(ts,turn_idx)"] for f in snap_b.files)
    b_ts_opened = len(table.read(ts_range=(lo, hi)).inputFiles())
    b_turn_opened = len(table.read(where={"turn_idx": (0, 4)}).inputFiles())

    # the z layout must prune BOTH dimensions (strictly fewer files than
    # the full set), and beat the key-sorted layout on at least one
    assert b_ts_opened < b_total and b_turn_opened < b_total
    assert (b_ts_opened + b_turn_opened) < (a_ts_opened + a_turn_opened), \
        (f"z-order opened {b_ts_opened}+{b_turn_opened} of {b_total}; "
         f"key-sort opened {a_ts_opened}+{a_turn_opened} of {a_total}")

    # correctness: same visible state, and the pruned reads are exact
    after = read_state(table).toPandas()
    assert len(after) == len(before)
    got = table.read(ts_range=(lo, hi)).count()
    want = table.read().filter(
        (F.unix_micros("ts") >= lo) & (F.unix_micros("ts") <= hi)).count()
    assert got == want

    # strings refuse with a clear message
    with pytest.raises(ValueError, match="z-order supports"):
        table.compact(zorder_by=["conv_id"])


def test_expire_dry_run_reports_without_deleting(spark, table):
    ev = gen.gen_change_events(spark, n_events=3000, n_convs=15, seed=402)
    for lo, hi in [(0, 1000), (1000, 2000), (2000, 3000)]:
        apply_batch(table, ev.filter((ev.lsn >= lo) & (ev.lsn < hi)))
    files_before = {f.path for f in table.current().files}
    history_before = [s.snapshot_id for s in table.history()]

    preview = table.expire_snapshots(keep_last=1, orphan_grace_s=0.0,
                                     dry_run=True)
    assert preview["dry_run"] and preview["expired_snapshots"] > 0
    # NOTHING changed: all snapshots still load, all files still exist
    assert [s.snapshot_id for s in table.history()] == history_before
    for p in files_before:
        assert os.path.exists(os.path.join(table.path, p))

    real = table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert not real["dry_run"]
    assert real["expired_snapshots"] == preview["expired_snapshots"]
    assert real["deleted_files"] == preview["deleted_files"]
    assert real["freed_bytes"] == preview["freed_bytes"]


def test_describe_summarizes_table(spark, table):
    ev = gen.gen_change_events(spark, n_events=800, n_convs=8, seed=403)
    apply_batch(table, ev, stream_id="s", epoch=0)
    table.tag("v1")
    d = table.describe()
    assert d["snapshot_id"] == 1 and d["n_buckets"] == 4
    assert d["rows"] > 0 and d["n_files"] > 0
    assert d["tags"] == {"v1": 1}
    assert d["committed_epochs"] == {"s": 0}
    assert d["retained_snapshots"] == [0, 1]
    assert "conv_id" in d["schema"] and d["bucket_col"] == "conv_id"
    assert d["staged"] == {} and d["multi_version"] is False


def test_where_none_none_is_no_constraint(spark, table):
    """where={col: (None, None)} carries no row-level filter, so it must
    not prune anything either — in particular not all-NULL files via the
    null-count rule (that prune is only sound under a real range)."""
    ev = gen.gen_change_events(spark, n_events=500, n_convs=5, seed=284)
    from rockefeller_spark.cdc import winners_to_stored
    stored = winners_to_stored(ev)
    table.append(stored.withColumn("tool", F.lit(None).cast("string")))
    df = table.read(where={"tool": (None, None)})
    assert df.count() == stored.count()
    # schema validation still applies to skipped entries
    with pytest.raises(ValueError, match="not in the table schema"):
        table.read(where={"nope": (None, None)})
