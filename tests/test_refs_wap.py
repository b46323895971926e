"""Named refs (tags) and write-audit-publish staged commits, plus the
commit-protocol repair for a writer crash between metadata PUT and
pointer publish. Runs under both commit backends."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("commit_backend")

from rockefeller_spark import gen
from rockefeller_spark.cdc import dedupe_lww, winners_to_stored
from rockefeller_spark.lake import CommitConflictError, LakeTable, key_bucket
from rockefeller_spark.merge import apply_batch, read_state
from rockefeller_spark.oracle import replay
from rockefeller_spark.schema import STORED_TRANSCRIPT_SCHEMA


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(spark, str(tmp_path / "t"),
                            STORED_TRANSCRIPT_SCHEMA, n_buckets=4)


def _apply_slice(spark, table, pdf, schema, lo, hi):
    apply_batch(table, spark.createDataFrame(
        pdf[(pdf.lsn > lo) & (pdf.lsn <= hi)], schema))


def _stored_extra(spark, seed, prefix, n_events=100, n_convs=5):
    """Stored-shape rows for convs DISJOINT from the base table's."""
    ev = gen.gen_change_events(spark, n_events=n_events, n_convs=n_convs,
                               seed=seed)
    ev = ev.withColumn("conv_id",
                       F.concat(F.lit(prefix + "-"), F.col("conv_id")))
    return winners_to_stored(dedupe_lww(ev, order_col="lsn"))


def _visible(df):
    return (df.toPandas().sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True))


# ------------------------------------------------------------------ tags

def test_tag_time_travel_and_retention(spark, table):
    ev = gen.gen_change_events(spark, n_events=1500, n_convs=10, seed=51)
    pdf = ev.toPandas()
    for lo, hi in [(-1, 500), (500, 1000), (1000, 1500)]:
        _apply_slice(spark, table, pdf, ev.schema, lo, hi)
    table.tag("audit-1", 1, note="first batch signed off")
    # read by name == read by id == oracle prefix
    by_name = _visible(read_state(table, table.resolve_ref("audit-1")))
    want = replay(pdf[pdf.lsn <= 500]).sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    assert (by_name[want.columns.tolist()].values == want.values).all()
    assert table.snapshot("audit-1").snapshot_id == 1

    # retention: keep_last=1 would expire v1, but the tag pins it
    stats = table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert 1 in stats["pinned"] and 1 in stats["retained"]
    assert table.read("audit-1").count() > 0          # still readable
    with pytest.raises(ValueError):
        table.snapshot(2)                             # untagged: expired

    # dropping the tag releases the pin; the next expiry reclaims it
    table.drop_tag("audit-1")
    table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    with pytest.raises(ValueError):
        table.snapshot(1)


def test_tag_immutable_and_validated(spark, table):
    table.tag("r1")
    assert table.tags()["r1"]["snapshot_id"] == 0
    with pytest.raises(ValueError, match="already exists"):
        table.tag("r1")
    with pytest.raises(ValueError, match="bad ref name"):
        table.tag("../escape")
    with pytest.raises(KeyError):
        table.resolve_ref("nope")
    with pytest.raises(KeyError):
        table.drop_tag("nope")
    with pytest.raises(ValueError):
        table.tag("future", 99)                       # must exist


# ------------------------------------------------- write-audit-publish

def test_wap_append_audit_then_publish(spark, table):
    ev = gen.gen_change_events(spark, n_events=800, n_convs=8, seed=52)
    pdf = ev.toPandas()
    _apply_slice(spark, table, pdf, ev.schema, -1, 400)
    v_before = table.current_version()
    seen_before = _visible(read_state(table))

    extra = _stored_extra(spark, 99, "new", n_events=200, n_convs=8)
    wap = table.stage_append(extra, note="nightly load")

    # invisible to every reader until published
    assert table.current_version() == v_before
    assert _visible(read_state(table)).equals(seen_before)
    # but the audit surface sees base + staged
    audited = table.read_staged(wap)
    n_new = extra.filter(~F.col("_deleted")).count()
    assert audited.count() == len(seen_before) + n_new
    # staged_only: just the new rows, O(adds) planning (no base files)
    assert table.read_staged(wap, staged_only=True).count() == n_new
    staged_files = {d["path"] for d in table.staged()[wap]["adds"]}
    opened = {p.split(table.path + "/", 1)[-1] for p in
              table.read_staged(wap, staged_only=True, raw=True)
              .inputFiles()}
    assert all(p.endswith(tuple(f.split("/")[-1] for f in staged_files))
               for p in opened)
    assert table.staged()[wap]["rows_added"] == extra.count()

    snap = table.publish_staged(wap)
    assert snap.snapshot_id == v_before + 1
    assert snap.lineage["wap_id"] == wap
    assert table.staged() == {}                       # marker cleaned
    assert read_state(table).count() == len(seen_before) + n_new


def test_wap_overwrite_rebases_over_disjoint_commits(spark, table):
    ev = gen.gen_change_events(spark, n_events=1200, n_convs=12, seed=53)
    pdf = ev.toPandas()
    _apply_slice(spark, table, pdf, ev.schema, -1, 1200)

    # pick two convs in DIFFERENT buckets
    convs = sorted(pdf.conv_id.unique())
    c1 = convs[0]
    b1 = key_bucket(c1, 4)
    c2 = next(c for c in convs if key_bucket(c, 4) != b1)
    b2 = key_bucket(c2, 4)

    # stage a copy-on-write edit of bucket b1: uppercase one conv's text
    snap = table.current()
    bucket_rows = table.read(buckets={b1}).withColumn(
        "text", F.when(F.col("conv_id") == c1,
                       F.upper(F.col("text"))).otherwise(F.col("text")))
    wap = table.stage_overwrite_buckets(bucket_rows, {b1})

    # meanwhile another writer commits to a DISJOINT bucket
    other = table.read(buckets={b2}).filter(F.col("conv_id") == c2) \
        .withColumn("_lsn", F.col("_lsn") + 10_000)
    table.overwrite_buckets(other.unionByName(
        table.read(buckets={b2}).filter(F.col("conv_id") != c2)), {b2})
    moved_to = table.current_version()
    assert moved_to == snap.snapshot_id + 1

    published = table.publish_staged(wap)             # rebased publish
    assert published.snapshot_id == moved_to + 1
    assert published.lineage["staged_base"] == snap.snapshot_id
    state = _visible(read_state(table))
    mine = state[state.conv_id == c1].text
    assert (mine == mine.str.upper()).all()           # staged edit landed
    assert len(state[state.conv_id == c2]) > 0        # other writer's too

    # an OVERLAPPING intervening commit refuses the publish
    wap2 = table.stage_overwrite_buckets(table.read(buckets={b1}), {b1})
    table.overwrite_buckets(table.read(buckets={b1}), {b1})
    with pytest.raises(CommitConflictError, match="overlap"):
        table.publish_staged(wap2)
    table.abandon_staged(wap2)


def test_wap_publish_replay_is_idempotent(spark, table, monkeypatch):
    ev = gen.gen_change_events(spark, n_events=400, n_convs=5, seed=54)
    _apply_slice(spark, table, ev.toPandas(), ev.schema, -1, 400)
    extra = _stored_extra(spark, 98, "x")
    wap = table.stage_append(extra, wap_id="nightly-42")
    # crash between the main commit and the branch drop: the stage
    # survives and the publish is replayed verbatim
    real_drop = LakeTable.drop_branch

    def crash(self, name):
        raise RuntimeError("injected crash before the drop")

    monkeypatch.setattr(LakeTable, "drop_branch", crash)
    with pytest.raises(RuntimeError, match="injected"):
        table.publish_staged(wap)
    monkeypatch.setattr(LakeTable, "drop_branch", real_drop)
    snap = table.current()
    assert snap.lineage["wap_id"] == wap and wap in table.staged()
    again = table.publish_staged(wap)
    assert again.snapshot_id == snap.snapshot_id      # found, not re-committed
    assert table.staged() == {}
    assert table.current_version() == snap.snapshot_id


def test_wap_publish_skips_epoch_already_on_main(spark, table):
    """Exactly-once for staged epochs: when main already holds the
    stage's (stream_id, epoch), the publish commits nothing and the
    stage is gone."""
    ev = gen.gen_change_events(spark, n_events=400, n_convs=5, seed=58)
    pdf = ev.toPandas()
    _apply_slice(spark, table, pdf, ev.schema, -1, 200)
    wap = table.stage_append(_stored_extra(spark, 95, "ep"),
                             stream_id="s-wap", epoch=3)
    # the same epoch reaches main another way (a redelivered batch)
    apply_batch(table, spark.createDataFrame(pdf[pdf.lsn > 200], ev.schema),
                stream_id="s-wap", epoch=3)
    v = table.current_version()
    snap = table.publish_staged(wap)
    assert snap.snapshot_id == v == table.current_version()
    assert table.staged() == {} and wap not in table.branches()


def test_wap_stage_is_a_branch_in_the_ref_namespace(spark, table):
    """A stage is a branch named by its wap_id: listed by branches() and
    the <name>_refs view, colliding with tags, and the staged TTL reaps
    it while ordinary branches stay."""
    from rockefeller_spark.sqlapi import register_meta_views
    table.create_branch("dev")
    wap = table.stage_append(_stored_extra(spark, 59, "ns"), wap_id="w-1")
    assert set(table.branches()) == {"dev", wap}
    assert set(table.staged()) == {wap}
    refs = register_meta_views(table, "t")["t_refs"]
    assert {r["name"] for r in refs.collect()} == {"main", "dev", wap}
    with pytest.raises(ValueError, match="namespace"):
        table.tag(wap)
    stats = table.expire_snapshots(keep_last=1, staged_ttl_s=0.0)
    assert stats["staged_reaped"] == 1
    assert set(table.branches()) == {"dev"}


def test_wap_abandon_sweep_and_ttl(spark, table):
    ev = gen.gen_change_events(spark, n_events=400, n_convs=5, seed=55)
    _apply_slice(spark, table, ev.toPandas(), ev.schema, -1, 400)
    rows_before = read_state(table).count()
    extra = _stored_extra(spark, 97, "y")

    # pending stage is PROTECTED from the orphan sweep (grace 0)
    wap = table.stage_append(extra)
    n_files = len(table.staged()[wap]["adds"])
    stats = table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert wap in table.staged()                      # marker intact
    assert table.read_staged(wap).count() > rows_before   # files intact

    # abandoned stage's files become sweepable orphans
    table.abandon_staged(wap)
    stats = table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert stats["deleted_files"] >= n_files

    # TTL reaps a forgotten marker (and the NEXT sweep takes its files)
    wap2 = table.stage_append(extra)
    stats = table.expire_snapshots(keep_last=1, orphan_grace_s=0.0,
                                   staged_ttl_s=0.0)
    assert stats["staged_reaped"] == 1 and table.staged() == {}


def test_wap_staged_base_pinned_against_expiry(spark, table):
    ev = gen.gen_change_events(spark, n_events=600, n_convs=6, seed=56)
    pdf = ev.toPandas()
    _apply_slice(spark, table, pdf, ev.schema, -1, 200)
    extra = _stored_extra(spark, 96, "z", n_events=60, n_convs=6)
    wap = table.stage_append(extra)
    base_v = table.staged()[wap]["base"]
    # table moves on; aggressive expiry would reclaim the staged base
    _apply_slice(spark, table, pdf, ev.schema, 200, 400)
    _apply_slice(spark, table, pdf, ev.schema, 400, 600)
    stats = table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert base_v in stats["pinned"]
    table.snapshot(base_v)                            # still loadable
    # and the publish (rebase over the later disjoint-or-not commits)
    # either lands or refuses loudly — never crashes on a missing base
    try:
        table.publish_staged(wap)
    except CommitConflictError:
        table.abandon_staged(wap)


# ------------------------------------------- commit-protocol crash repair

def test_crashed_publish_does_not_wedge_commits(spark, table, monkeypatch):
    """A writer that dies between its metadata PUT and the pointer
    advance used to wedge the table: every later commit of that version
    conflicted forever against an object nobody published. The conflict
    path now completes the crashed publish (monotonic, idempotent) and
    the retried batch lands on top."""
    ev = gen.gen_change_events(spark, n_events=900, n_convs=8, seed=57)
    pdf = ev.toPandas()
    _apply_slice(spark, table, pdf, ev.schema, -1, 300)
    v = table.current_version()

    real = type(table.backend).advance_pointer
    calls = {"n": 0}

    def dying(self, rel, version):
        if rel.endswith("HEAD") or "cursors" in rel:
            return real(self, rel, version)
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash after PUT, before publish")
        return real(self, rel, version)

    monkeypatch.setattr(type(table.backend), "advance_pointer", dying)
    with pytest.raises(RuntimeError, match="injected"):
        apply_batch(table, spark.createDataFrame(
            pdf[(pdf.lsn > 300) & (pdf.lsn <= 600)], ev.schema),
            stream_id="s", epoch=1)
    # the object exists but the pointer never moved
    assert table.backend.exists(table._meta_rel(v + 1))
    assert table.current_version() == v
    monkeypatch.setattr(type(table.backend), "advance_pointer", real)

    # at-least-once redelivery of the SAME epoch: repair publishes the
    # crashed commit, the replay dedupes on the epoch ledger
    res = apply_batch(table, spark.createDataFrame(
        pdf[(pdf.lsn > 300) & (pdf.lsn <= 600)], ev.schema),
        stream_id="s", epoch=1, retries=2)
    assert res.skipped or res.snapshot is not None
    assert table.current_version() >= v + 1

    # and the NEXT batch commits normally — the table is not wedged
    apply_batch(table, spark.createDataFrame(
        pdf[pdf.lsn > 600], ev.schema), stream_id="s", epoch=2, retries=2)
    got = _visible(read_state(table))
    want = replay(pdf).sort_values(["conv_id", "turn_idx"]) \
        .reset_index(drop=True)
    assert (got[want.columns.tolist()].values == want.values).all()


# ------------------------------------------------ read_staged audit filters

def _events(spark, rows):
    from rockefeller_spark.schema import CHANGE_EVENT_SCHEMA
    return spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)


def test_read_staged_filters_after_lww_on_multiversion(spark, table):
    """On a multi-version stage, version-sensitive filters (ts_range /
    where) must apply AFTER the LWW resolve: filtering files/rows first
    can resurrect a superseded version (old version in range, newer one
    filtered out) and a WAP quality gate would then audit wrong data."""
    from datetime import datetime
    jan, jun = datetime(2024, 1, 15), datetime(2024, 6, 15)
    apply_batch(table, _events(
        spark, [(1, "I", "conv-x", 1, "user", "old", None, jan, jan)]),
        mode="mor")
    apply_batch(table, _events(
        spark, [(2, "U", "conv-x", 1, "user", "new", None, jun, jun)]),
        mode="mor")
    extra = _stored_extra(spark, 77, "staged", n_events=50, n_convs=3)
    wap = table.stage_append(extra)

    # conv-x's WINNING version (jun) is outside the requested range: the
    # key must be absent — the superseded jan version must not resurface
    got = table.read_staged(wap, ts_range=(datetime(2024, 1, 1),
                                           datetime(2024, 2, 1)))
    assert got.filter(F.col("conv_id") == "conv-x").count() == 0
    # where= on a version-varying payload column is post-resolve too
    got = table.read_staged(wap, where={"text": ("old", "old")})
    assert got.filter(F.col("conv_id") == "conv-x").count() == 0
    # and the winner IS returned when its own values qualify
    rows = (table.read_staged(wap, ts_range=(datetime(2024, 6, 1),
                                             datetime(2024, 7, 1)))
            .filter(F.col("conv_id") == "conv-x").collect())
    assert len(rows) == 1 and rows[0]["text"] == "new"
    table.abandon_staged(wap)


def test_read_staged_bucket_read_excludes_delta_leak(spark, table):
    """buckets= on a multi-version stage must row-filter bucket-spanning
    delta rows to the requested buckets (file pruning alone cannot
    exclude their other-bucket rows)."""
    ev = gen.gen_change_events(spark, n_events=400, n_convs=8, seed=78)
    apply_batch(table, ev, mode="mor")           # bucket-spanning deltas
    wap = table.stage_append(
        _stored_extra(spark, 79, "st", n_events=50, n_convs=2))
    n = table.current().n_buckets
    b = key_bucket(read_state(table).first()["conv_id"], n)
    got = table.read_staged(wap, buckets={b})
    convs = [r["conv_id"] for r in got.select("conv_id").distinct().collect()]
    assert convs
    assert all(key_bucket(c, n) == b for c in convs)
    table.abandon_staged(wap)


# ------------------------------------------------------------- branches

def test_branch_commits_invisible_until_publish(spark, table):
    """Multi-commit audit: N real commits on a branch stay invisible on
    main; the fast-forward publish folds the net delta == sequential
    oracle."""
    ev = gen.gen_change_events(spark, n_events=1200, n_convs=10, seed=61)
    pdf = ev.toPandas()
    _apply_slice(spark, table, pdf, ev.schema, -1, 400)
    v_main = table.current_version()
    main_rows = read_state(table).count()

    table.create_branch("audit", note="week-32 backfill")
    b = table.on_branch("audit")
    # two real commits on the branch (multi-commit audit workflow)
    _apply_slice(spark, b, pdf, ev.schema, 400, 800)
    _apply_slice(spark, b, pdf, ev.schema, 800, 1200)

    # invisible on main; visible on the branch handle AND by name
    assert table.current_version() == v_main
    assert read_state(table).count() == main_rows
    want = replay(pdf).sort_values(["conv_id", "turn_idx"]) \
                      .reset_index(drop=True)
    got_branch = _visible(read_state(b))
    assert (got_branch[want.columns.tolist()].values == want.values).all()
    assert table.read("audit").count() == b.read().count()
    assert table.snapshot("audit").snapshot_id == b.current_version()
    assert table.branches()["audit"]["head"] == b.current_version()

    snap = table.publish_branch("audit")
    assert snap.lineage["op"] == "branch_publish"
    got_main = _visible(read_state(table))
    assert (got_main[want.columns.tolist()].values == want.values).all()
    # one main commit for the whole branch (fast-forward), branch dropped
    assert table.current_version() == v_main + 1
    assert "audit" not in table.branches()


def test_branch_publish_rebases_over_disjoint_main_commits(spark, table):
    ev = gen.gen_change_events(spark, n_events=600, n_convs=6, seed=62)
    pdf = ev.toPandas()
    _apply_slice(spark, table, pdf, ev.schema, -1, 300)
    table.create_branch("bf")
    b = table.on_branch("bf")
    _apply_slice(spark, b, pdf, ev.schema, 300, 600)

    # main moves with rows in buckets DISJOINT from everything on the
    # branch -> publish must rebase, keeping both sides' rows
    extra = _stored_extra(spark, 63, "mainx", n_events=60, n_convs=3)
    n = table.current().n_buckets
    branch_buckets = {key_bucket(c, n) for c in pdf.conv_id.unique()}
    extra = extra.toPandas()
    extra = extra[extra.conv_id.map(
        lambda c: key_bucket(c, n) not in branch_buckets)]
    assert len(extra), "need at least one disjoint-bucket row"
    table.append(spark.createDataFrame(extra, STORED_TRANSCRIPT_SCHEMA))

    table.publish_branch("bf")
    got = read_state(table).toPandas()
    want = replay(pdf)
    assert len(got) == len(want) + len(extra[~extra._deleted])
    got_b = got[~got.conv_id.str.startswith("mainx-")] \
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = want.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert (got_b[want.columns.tolist()].values == want.values).all()


def test_branch_publish_refuses_overlap_and_drift(spark, table):
    ev = gen.gen_change_events(spark, n_events=400, n_convs=5, seed=64)
    pdf = ev.toPandas()
    _apply_slice(spark, table, pdf, ev.schema, -1, 200)
    table.create_branch("bad")
    b = table.on_branch("bad")
    _apply_slice(spark, b, pdf, ev.schema, 200, 400)
    # main touches the SAME convs -> overlapping buckets -> refuse
    _apply_slice(spark, table, pdf, ev.schema, 200, 300)
    with pytest.raises(CommitConflictError, match="overlap|re-branch"):
        table.publish_branch("bad")
    table.drop_branch("bad")
    with pytest.raises(KeyError):
        table.on_branch("bad")


def test_branch_epoch_ledger_survives_publish(spark, table):
    """Exactly-once across the publish: epochs committed ON the branch
    are merged into main, so a redelivered batch no-ops after publish."""
    ev = gen.gen_change_events(spark, n_events=300, n_convs=4, seed=65)
    table.create_branch("led")
    b = table.on_branch("led")
    r = apply_batch(b, ev, stream_id="s-led", epoch=7)
    assert not r.skipped
    table.publish_branch("led")
    assert table.epoch_committed("s-led", 7)
    r2 = apply_batch(table, ev, stream_id="s-led", epoch=7)
    assert r2.skipped


def test_branch_pins_against_expiry_and_reclaims_on_drop(spark, table):
    ev = gen.gen_change_events(spark, n_events=500, n_convs=6, seed=66)
    pdf = ev.toPandas()
    _apply_slice(spark, table, pdf, ev.schema, -1, 250)
    fork = table.current_version()
    table.create_branch("pin")
    b = table.on_branch("pin")
    _apply_slice(spark, b, pdf, ev.schema, 250, 500)
    branch_files = {f.path for f in b.current().files}

    # main moves on; aggressive expiry must pin the fork point AND keep
    # every branch-referenced file alive through the orphan sweep
    table.append(_stored_extra(spark, 67, "mv", n_events=40, n_convs=2))
    stats = table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert fork in stats["pinned"]
    import os
    for p in branch_files:
        assert os.path.exists(os.path.join(table.path, p)), p
    # branch still fully readable after expiry
    assert read_state(b).count() > 0

    # dropping the branch releases everything; branch-only files age out
    table.drop_branch("pin")
    table.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    main_files = {f.path for f in table.current().files}
    gone = branch_files - main_files
    assert gone, "branch wrote files main never referenced"
    for p in gone:
        assert not os.path.exists(os.path.join(table.path, p)), p


def test_branch_name_guards_and_main_only(spark, table):
    table.tag("rel")
    with pytest.raises(ValueError, match="namespace"):
        table.create_branch("rel")
    table.create_branch("dev")
    with pytest.raises(ValueError, match="namespace"):
        table.tag("dev")
    with pytest.raises(ValueError, match="already exists"):
        table.create_branch("dev")
    b = table.on_branch("dev")
    with pytest.raises(ValueError, match="main table handle"):
        b.on_branch("dev")
    with pytest.raises(ValueError, match="main table handle"):
        b.expire_snapshots()
    with pytest.raises(ValueError, match="main table handle"):
        b.create_branch("dev2")
    with pytest.raises(ValueError, match="no commits to publish"):
        table.publish_branch("dev")


def test_branch_fsck_coverage(spark, table):
    import os
    from rockefeller_spark.fsck import check_table
    ev = gen.gen_change_events(spark, n_events=300, n_convs=4, seed=68)
    table.create_branch("chk")
    b = table.on_branch("chk")
    apply_batch(b, ev)
    rep = check_table(table)
    assert rep.ok, [f.detail for f in rep.errors()]
    # delete one branch-referenced data file -> branch-file-missing
    victim = next(f.path for f in b.current().files)
    os.remove(os.path.join(table.path, victim))
    rep = check_table(table)
    assert any(f.code == "branch-file-missing" for f in rep.errors())


def test_branch_handle_resolves_own_name(spark, table):
    """ADVICE r8: snapshot(name)/read_state(bh, name) on a branch handle
    for its OWN branch returns the branch head instead of raising."""
    ev = gen.gen_change_events(spark, n_events=300, n_convs=8, seed=91)
    apply_batch(table, ev)
    table.create_branch("audit")
    b = table.on_branch("audit")
    pdf = ev.toPandas()
    _apply_slice(spark, b, pdf, ev.schema, 150, 300)
    own = b.snapshot("audit")
    assert own.snapshot_id == b.current_version()
    assert read_state(b, "audit").count() == read_state(b).count()


def test_publish_drop_keeps_branch_that_advanced(spark, table, monkeypatch):
    """ADVICE r8: a branch commit landing between publish's head pin and
    the drop must not be silently discarded — the branch survives."""
    ev = gen.gen_change_events(spark, n_events=600, n_convs=8, seed=92)
    pdf = ev.toPandas()
    _apply_slice(spark, table, pdf, ev.schema, -1, 200)
    table.create_branch("wip")
    b = table.on_branch("wip")
    _apply_slice(spark, b, pdf, ev.schema, 200, 400)
    # inject a racing branch commit after publish pinned the head
    orig_commit = type(table).commit
    state = {"done": False}
    def racing_commit(self, *a, **kw):
        snap = orig_commit(self, *a, **kw)
        if not state["done"] and kw.get("lineage", {}).get("op") == "branch_publish":
            state["done"] = True
            _apply_slice(spark, b, pdf, ev.schema, 400, 600)
        return snap
    monkeypatch.setattr(type(table), "commit", racing_commit)
    table.publish_branch("wip", drop=True)
    monkeypatch.setattr(type(table), "commit", orig_commit)
    # the branch still exists and still holds the unpublished commit
    assert "wip" in table.branches()
    assert b.current().files  # head readable


def test_publish_drop_race_never_loses_a_branch_commit(spark, table,
                                                       monkeypatch):
    """A branch commit racing publish's drop, after the publish checked
    the head and before anything is deleted, either lands first and keeps
    the branch or fails with CommitConflictError — it is never silently
    discarded with the branch."""
    ev = gen.gen_change_events(spark, n_events=400, n_convs=6, seed=93)
    pdf = ev.toPandas()
    _apply_slice(spark, table, pdf, ev.schema, -1, 200)
    table.create_branch("wip")
    b = table.on_branch("wip")
    _apply_slice(spark, b, pdf, ev.schema, 200, 400)
    late = _stored_extra(spark, 94, "late", n_events=40, n_convs=2)

    real_delete = type(table.backend).delete
    raced: dict[str, bool] = {}

    def racing_delete(self, rel):
        if not raced and "wip" in rel:
            raced["fired"] = True
            try:
                b.append(late)
                raced["landed"] = True
            except CommitConflictError:
                raced["conflict"] = True
        return real_delete(self, rel)

    monkeypatch.setattr(type(table.backend), "delete", racing_delete)
    published = table.publish_branch("wip")
    monkeypatch.setattr(type(table.backend), "delete", real_delete)
    assert raced.get("fired")
    if raced.get("landed"):
        assert "wip" in table.branches()
        assert b.read().filter(
            F.col("conv_id").startswith("late-")).count() > 0
    else:
        assert raced.get("conflict")
        assert "wip" not in table.branches()
    assert table.current_version() == published.snapshot_id
