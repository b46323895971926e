"""Generator determinism + oracle sanity."""

from __future__ import annotations

from rockefeller_spark import gen


def test_gen_deterministic_across_parallelism(spark):
    a = gen.gen_change_events(spark, n_events=2000, n_convs=50, seed=7,
                              num_partitions=2)
    b = gen.gen_change_events(spark, n_events=2000, n_convs=50, seed=7,
                              num_partitions=8)
    pa = a.toPandas().sort_values(["lsn", "event_ts"]).reset_index(drop=True)
    pb = b.toPandas().sort_values(["lsn", "event_ts"]).reset_index(drop=True)
    assert pa.equals(pb)


def test_gen_injects_duplicates_and_deletes(spark):
    ev = gen.gen_change_events(spark, n_events=5000, n_convs=100, seed=1).toPandas()
    assert ev["lsn"].duplicated().any(), "expected duplicate LSNs"
    assert (ev["op"] == "D").any(), "expected tombstones"
    dups = ev[ev.duplicated("lsn", keep=False)].sort_values("lsn")
    # duplicate-LSN rows are bit-identical payload replays
    grp = dups.groupby("lsn")[["op", "conv_id", "turn_idx", "text"]].nunique()
    assert (grp <= 1).all().all()


def test_gen_zipf_skew(spark):
    ev = gen.gen_change_events(spark, n_events=20000, n_convs=1000, seed=3).toPandas()
    top = ev["conv_id"].value_counts()
    # hot conversation gets far more than the uniform 1/1000 share
    assert top.iloc[0] > 20 * (len(ev) / 1000)


def test_oracle_replay_basics():
    import pandas as pd
    ev = pd.DataFrame([
        dict(lsn=1, op="I", conv_id="c", turn_idx=0, role="user", text="a", tool=None, ts=None, event_ts=None),
        dict(lsn=2, op="U", conv_id="c", turn_idx=0, role="user", text="b", tool=None, ts=None, event_ts=None),
        dict(lsn=2, op="U", conv_id="c", turn_idx=0, role="user", text="b", tool=None, ts=None, event_ts=None),
        dict(lsn=3, op="D", conv_id="c", turn_idx=1, role=None, text=None, tool=None, ts=None, event_ts=None),
        dict(lsn=4, op="I", conv_id="c", turn_idx=1, role="tool", text="z", tool="t", ts=None, event_ts=None),
        dict(lsn=5, op="D", conv_id="c", turn_idx=2, role=None, text=None, tool=None, ts=None, event_ts=None),
        dict(lsn=0, op="U", conv_id="c", turn_idx=0, role="user", text="stale", tool=None, ts=None, event_ts=None),
    ])
    from rockefeller_spark.oracle import replay
    out = replay(ev)
    assert out[out.turn_idx == 0].text.iloc[0] == "b"       # LWW
    assert out[out.turn_idx == 1].text.iloc[0] == "z"       # delete→reinsert
    assert (out.turn_idx != 2).all()                        # tombstone hidden


def test_gen_scramble_is_bijective_and_disordered(spark):
    """Round-9 optimization invariant: the shuffle-free segment-local
    scramble must produce EXACTLY the identity mapping's row multiset
    (it is a per-segment bijection of the row index), while no partition
    is LSN-monotonic (out-of-order delivery preserved)."""
    from pyspark.sql import functions as F
    for n, seed, parts in [(2000, 7, 4), (4097, 5, 3), (50000, 42, 8)]:
        a = gen.gen_change_events(spark, n_events=n, n_convs=50, seed=seed,
                                  num_partitions=parts)
        b = gen.gen_change_events(spark, n_events=n, n_convs=50, seed=seed,
                                  shuffled=False, num_partitions=parts)
        da = a.groupBy(*a.columns).count()
        db = b.groupBy(*b.columns).count()
        assert da.exceptAll(db).count() == 0
        assert db.exceptAll(da).count() == 0
    ev = gen.gen_change_events(spark, n_events=50000, n_convs=100, seed=42,
                               num_partitions=4)
    part = (ev.select("lsn", F.spark_partition_id().alias("p"))
            .toPandas())
    assert not part.groupby("p")["lsn"].apply(
        lambda s: s.is_monotonic_increasing).any()


def test_gen_scramble_negative_seed_stays_in_range(spark):
    """Spark's % takes the dividend's sign: a negative seed once mapped
    row ids outside their LSN segment (seed -1, n 20 000 gave a smallest
    lsn of -2938). The scramble must stay a permutation of [0, n)."""
    n = 20_000
    a = gen.gen_change_events(spark, n_events=n, n_convs=20, seed=-1)
    b = gen.gen_change_events(spark, n_events=n, n_convs=20, seed=-1,
                              shuffled=False)
    lo, hi = a.agg({"lsn": "min"}).first()[0], a.agg({"lsn": "max"}).first()[0]
    assert (lo, hi) == (0, n - 1)
    da = a.groupBy(*a.columns).count()
    db = b.groupBy(*b.columns).count()
    assert da.exceptAll(db).count() == 0
    assert db.exceptAll(da).count() == 0


def test_gen_output_pinned_for_nonnegative_seeds(spark):
    """The bench and tests draw their data from the generator: for
    seeds >= 0 its rows, in physical order, must stay byte-identical."""
    import hashlib
    want = {7: "c7977f9b0914b24b855cdf0af51629711460c7784be3769798332cf9c6f6ef1d",
            0: "1152f68e46da0f0fe59b243847cb68f2dfed641d7756443a190546538a5db1b3"}
    for seed, digest in want.items():
        ev = gen.gen_change_events(spark, n_events=6000, n_convs=20,
                                   seed=seed, num_partitions=3)
        assert hashlib.sha256(repr(ev.collect()).encode()).hexdigest() \
            == digest


def test_gen_scramble_plans_no_shuffle_at_north_star_scale(spark):
    """A shuffled 10^10-event log is planned as the segment-local
    scramble alone: no Exchange and no Sort (nothing is executed)."""
    ev = gen.gen_change_events(spark, n_events=10**10, n_convs=1000, seed=3)
    plan = ev._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Sort" not in plan, plan


def test_gen_scramble_rejects_n_past_int64_bound(spark):
    import pytest
    with pytest.raises(ValueError, match="int64"):
        gen.gen_change_events(spark, n_events=gen._SCRAMBLE_MAX_N + 1)
