"""Deterministic synthetic data: transcripts + CDC change-event log.

Replaces the reference's network source (``yf.Ticker(...).history``,
``/root/reference/scripts/collector.py:94-96``) with a seeded, fully
distributed generator: every column is a pure function of ``(row id, seed)``
via ``xxhash64``, so the SAME rows are produced at any parallelism and any
scale — ``n_events=10**7`` locally or ``10**10`` on a real cluster, no
driver-side RNG, no collect.

Key property for the exactly-once tests: the change-event *payload* is a
pure function of ``lsn`` alone, so injected duplicate-LSN events are
bit-identical copies (as real binlog replays are), and the oracle can
recompute any payload.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rockefeller_spark import schema as S

BASE_EPOCH_S = 1_700_000_000  # 2023-11-14 22:13:20 UTC, arbitrary fixed origin

_U_SCALE = 1_000_003  # prime; uniform granularity for hash->[0,1)

# Multipliers for the shuffled=True affine index scramble (all verified
# prime, all > 2^32 so they are coprime to any segment length < 2^32 — a
# prime p divides a length only when p <= length). The scramble computes
# (id - base) * p + (q mod seg_len) < seg * (p + 1) with
# seg = ceil(n_events / 256) once n_events exceeds 256 * 4096, so it stays
# within int64 while seg <= (2^63 - 1) // (p + 1): about 5.5*10^11 events.
_SCRAMBLE_PRIMES = [4294967311, 4294967357, 4294967371, 4294967377,
                    4294967387, 4294967389, 4294967459, 4294967477]
_SCRAMBLE_MAX_N = 256 * ((2**63 - 1) // (max(_SCRAMBLE_PRIMES) + 1))


def _u(col, seed: int, salt: int):
    """Deterministic uniform in [0,1) from a column + seed + salt."""
    return F.pmod(F.xxhash64(col, F.lit(seed), F.lit(salt)), F.lit(_U_SCALE)) / float(_U_SCALE)


def _hashint(col, seed: int, salt: int, mod: int):
    """Deterministic int in [0, mod)."""
    return F.pmod(F.xxhash64(col, F.lit(seed), F.lit(salt)), F.lit(mod)).cast("int")


def _zipf_conv(col, seed: int, salt: int, n_convs: int):
    """Zipf(~1)-skewed conversation index in [0, n_convs): log-uniform
    transform of a hash-uniform, so conv 0 is the hot key (~1/ln(N) of all
    events). This is the skew the salted repartitioning must defuse."""
    u = _u(col, seed, salt)
    return F.least(
        F.lit(n_convs - 1),
        F.floor(F.exp(u * float(math.log(n_convs)))) - F.lit(1),
    ).cast("long")


def _conv_id(conv_index_col):
    return F.format_string("c%08d", conv_index_col.cast("int"))


def _text_of(lsn_col):
    """Deterministic, variable-length turn text as a pure function of lsn."""
    h = F.md5(lsn_col.cast("string"))
    return F.concat(
        F.lit("turn-text "), h, F.lit(" "),
        F.substring(F.repeat(h, 4), F.lit(1),
                    (F.pmod(F.xxhash64(lsn_col, F.lit(17)), F.lit(96)) + F.lit(16)).cast("int")),
    )


def _role_of(turn_idx_col):
    return F.when(turn_idx_col % 2 == 0, F.lit("user")).otherwise(F.lit("assistant"))


def _tool_of(lsn_col, turn_idx_col):
    """Tool name on ~20% of assistant turns, else null."""
    return F.when(
        (turn_idx_col % 2 == 1) & (F.pmod(F.xxhash64(lsn_col, F.lit(23)), F.lit(5)) == 0),
        F.concat(F.lit("tool_"), F.pmod(F.xxhash64(lsn_col, F.lit(29)), F.lit(8)).cast("string")),
    ).otherwise(F.lit(None).cast("string"))


def gen_transcripts(spark: SparkSession, n_convs: int = 1000,
                    max_turns: int = 20, seed: int = 42,
                    num_partitions: int | None = None) -> DataFrame:
    """Base transcript table: (conv_id, turn_idx, role, text, tool, ts).

    Turn count per conversation is 1 + hash(conv) % max_turns. ``ts`` is
    monotone in turn_idx within a conversation (stable turn ordering).
    """
    convs = spark.range(0, n_convs, numPartitions=num_partitions)
    n_turns = (_hashint(F.col("id"), seed, 1, max_turns) + F.lit(1))
    df = (convs
          .withColumn("turn_idx", F.explode(F.sequence(F.lit(0), n_turns - F.lit(1))))
          .withColumn("conv_id", _conv_id(F.col("id"))))
    # synthetic "lsn" namespace for base rows: negative of a row key so base
    # text never collides with event text
    rowkey = (F.col("id") * F.lit(max_turns + 1) + F.col("turn_idx"))
    return df.select(
        F.col("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        _role_of(F.col("turn_idx")).alias("role"),
        _text_of(-rowkey - F.lit(1)).alias("text"),
        _tool_of(-rowkey - F.lit(1), F.col("turn_idx")).alias("tool"),
        F.timestamp_seconds(F.lit(BASE_EPOCH_S) + F.col("id") * 100 + F.col("turn_idx")).alias("ts"),
    )


def gen_change_events(spark: SparkSession, n_events: int = 10_000,
                      n_convs: int = 1000, max_turns: int = 20,
                      seed: int = 42, *,
                      p_delete: float = 0.08,
                      p_dup_lsn: float = 0.02,
                      shuffled: bool = True,
                      evolved: bool = False,
                      num_partitions: int | None = None) -> DataFrame:
    """CDC event log: (lsn, op, conv_id, turn_idx, payload..., event_ts).

    Properties (all deterministic in ``seed``):
    - ``lsn`` strictly follows event index, EXCEPT a ~``p_dup_lsn`` fraction
      of rows that replay the previous lsn with an identical payload
      (at-least-once delivery duplicates).
    - ``conv_id`` is Zipf-skewed: conversation 0 is hot.
    - ``op`` is 'D' with prob ``p_delete``, else 'I'/'U' (both upsert).
    - payload columns are pure functions of ``lsn``.
    - ``shuffled=True`` scrambles row order (out-of-order delivery) without
      changing the set of rows, with no shuffle; it supports up to
      ``_SCRAMBLE_MAX_N`` (~5.5*10^11) events and raises ValueError above.
    - ``evolved=True`` adds the additive-epoch columns
      (tool_call_id, latency_ms) per FIXTURES.md §3.
    """
    if shuffled and n_events > _SCRAMBLE_MAX_N:
        raise ValueError(f"shuffled=True supports at most {_SCRAMBLE_MAX_N} "
                         f"events (int64 scramble bound), got {n_events}")
    ids = spark.range(0, n_events, numPartitions=num_partitions)
    if shuffled:
        # Out-of-order delivery WITHOUT a shuffle, laid out the way a
        # binlog actually lands on disk: the log is split into fixed
        # LSN segments and row i is remapped through a modular-affine
        # bijection of ITS SEGMENT — (i-base)*p + q mod seg_len, p a
        # prime > 2^32 (coprime to any such length) — so the row SET is
        # identical to the identity mapping at any parallelism (each
        # segment is a permutation of itself), delivery is scrambled
        # WITHIN every segment (the at-least-once out-of-orderness the
        # apply path must handle), and the file/row-group LSN bounds
        # stay segment-tight, so an LSN-span read of the WAL (micro-batch
        # slicing, catch-up chunks) prunes on parquet footer stats
        # instead of re-decoding the whole log per span (guide §6).
        # The offset goes through pmod: Spark's % takes the dividend's
        # sign, so a negative seed's q would map ids out of their segment.
        p = _SCRAMBLE_PRIMES[seed % len(_SCRAMBLE_PRIMES)]
        q = seed * 2_654_435_761 + 40_503
        seg = max(-(-n_events // 256), 4096)   # >=4096: tiny logs stay
        base = F.col("id") - F.col("id") % F.lit(seg)
        seg_len = F.least(F.lit(n_events) - base, F.lit(seg))
        ids = ids.select(
            (base + ((F.col("id") - base) * F.lit(p)
                     + F.pmod(F.lit(q), seg_len)) % seg_len).alias("id"))
    dup_cut = int(p_dup_lsn * _U_SCALE)
    del_cut = int(p_delete * _U_SCALE)
    # duplicate: this row replays the previous event's lsn (never for id 0)
    is_dup = (F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(2)), F.lit(_U_SCALE)) < dup_cut) & (F.col("id") > 0)
    lsn = F.when(is_dup, F.col("id") - 1).otherwise(F.col("id")).alias("lsn")
    df = ids.select(lsn, F.col("id"))
    is_del = F.pmod(F.xxhash64(F.col("lsn"), F.lit(seed), F.lit(3)), F.lit(_U_SCALE)) < del_cut
    conv = _zipf_conv(F.col("lsn"), seed, 4, n_convs)
    turn = _hashint(F.col("lsn"), seed, 5, max_turns)
    op = F.when(is_del, F.lit("D")).otherwise(
        F.when(F.pmod(F.xxhash64(F.col("lsn"), F.lit(seed), F.lit(6)), F.lit(2)) == 0,
               F.lit("I")).otherwise(F.lit("U")))
    cols = [
        F.col("lsn"),
        op.alias("op"),
        _conv_id(conv).alias("conv_id"),
        turn.alias("turn_idx"),
        F.when(is_del, F.lit(None).cast("string")).otherwise(_role_of(turn)).alias("role"),
        F.when(is_del, F.lit(None).cast("string")).otherwise(_text_of(F.col("lsn"))).alias("text"),
        F.when(is_del, F.lit(None).cast("string")).otherwise(_tool_of(F.col("lsn"), turn)).alias("tool"),
        F.when(is_del, F.lit(None).cast("timestamp")).otherwise(
            F.timestamp_seconds(F.lit(BASE_EPOCH_S) + F.col("lsn"))).alias("ts"),
        # event emission time: mostly ordered, ~5% late by up to 1h
        F.timestamp_seconds(
            F.lit(BASE_EPOCH_S + 10_000_000) + F.col("id")
            - F.when(F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(7)), F.lit(20)) == 0,
                     F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(8)), F.lit(3600)))
               .otherwise(F.lit(0))).alias("event_ts"),
    ]
    if evolved:
        cols += [
            F.when(is_del | (F.pmod(F.xxhash64(F.col("lsn"), F.lit(seed), F.lit(9)), F.lit(3)) != 0),
                   F.lit(None).cast("string"))
             .otherwise(F.concat(F.lit("call_"), F.md5(F.col("lsn").cast("string")))).alias("tool_call_id"),
            F.when(is_del, F.lit(None).cast("int"))
             .otherwise(F.pmod(F.xxhash64(F.col("lsn"), F.lit(seed), F.lit(10)), F.lit(5000)).cast("int")).alias("latency_ms"),
        ]
    return df.select(*cols)


def expected_schema(evolved: bool = False):
    return S.CHANGE_EVENT_SCHEMA_V2 if evolved else S.CHANGE_EVENT_SCHEMA
