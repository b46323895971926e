"""The three CDC benchmark workloads: set-up, timed phase, and the samples
they leave for the metrics and the correctness gate.

Every batch boundary is fixed by event count and LSN: the WAL is written
once as one file per ``gen`` partition (a fixed range of event ids), and
the bench lands those files in the source directory (an atomic rename).
Nothing is cut by a clock, so commit counts, file counts and byte counts
repeat exactly for a seed.

- ``backlog``: all segments land at once and ``catchup.catch_up``
  drains them (FileSource, copy-on-write) in a few row-budgeted chunks
  into a copy of the bootstrapped base table: ``warmup_catchups`` times
  untimed, then ``catchups`` times timed, each into a new copy; then
  rounds of ``read_state`` scans and ``lookup``/``lookup_many`` calls
  run on the last table.
- ``tail_mor`` / ``tail_cow``: ``stream.run_stream`` tails the source
  directory. In the untimed warm-up the bench lands one segment at a
  time, waits until its micro-batch (apply, and maintenance under MOR)
  has finished, then runs point lookups and ``lookup_many`` calls on
  the live table (checked later against the oracle at that LSN). The
  timed segments then land back to back, each once the previous batch
  has finished; after the last one the stream stops and rounds of
  reads run on the final table.

Operation counts are fixed (``min_rounds`` read rounds at least; more
only if the run's seconds are not yet used), so every run puts the same
work through the JVM's JIT before and during the timed phase.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import functions as F

from rockefeller_spark import gen
from rockefeller_spark.catchup import catch_up
from rockefeller_spark.lake import LakeTable
from rockefeller_spark.maintenance import CompactionPolicy
from rockefeller_spark.merge import bootstrap, read_state
from rockefeller_spark.schema import STORED_TRANSCRIPT_SCHEMA
from rockefeller_spark.sources import FileSource
from rockefeller_spark.stream import run_stream

from spans import NULL_TRACER

N_BUCKETS = 32
MAX_TURNS = 20
BATCH_TIMEOUT_S = 120.0
WARMUP_READ_ROUNDS = 2     # untimed read rounds at the end of set-up
USER_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
# gen scrambles delivery order within aligned blocks of this many event
# ids (for logs up to 256 * 4096 events); a segment that is a whole
# number of blocks holds one contiguous LSN range (give or take one
# duplicate-LSN replay at its first row), as a real WAL segment does
SCRAMBLE_SPAN = 4096


# A fresh JVM applies its first batches up to 3x slower than later ones,
# and the speed-up varies from run to run (JIT compilation): on a 4-core
# host a full backlog catch-up ran at 24k, 47k, 54k, 65k ... 78k events/s
# over ten repeats in one process, and point lookups kept getting faster
# for the first ~250 calls. The untimed warm-up takes the steepest part
# of that curve out of the timed batches. Reads (lookups, scans) get
# untimed rounds of their own, since they run different code.
@dataclass(frozen=True)
class Shape:
    mode: str                # apply mode: "cow" or "mor"
    stream: bool             # stream tail (True) or catch-up backlog
    n_convs: int
    segment_events: int      # events per WAL segment file
    warmup_segments: int     # tails: applied untimed, one micro-batch each
    n_segments: int          # timed segments, after the warm-up ones
    warmup_catchups: int     # backlog: untimed catch-ups in the set-up
    catchups: int            # backlog: timed catch-ups, after the untimed
    lookups_per_round: int
    multigets_per_round: int
    multiget_keys: int
    min_rounds: int          # read rounds run even when time is up

    @property
    def n_files(self) -> int:
        return self.warmup_segments + self.n_segments


SHAPES = {
    "backlog": Shape(mode="cow", stream=False, n_convs=8_000,
                     segment_events=7 * SCRAMBLE_SPAN, warmup_segments=0,
                     n_segments=3, warmup_catchups=4, catchups=3,
                     lookups_per_round=4, multigets_per_round=2,
                     multiget_keys=16, min_rounds=5),
    "tail_mor": Shape(mode="mor", stream=True, n_convs=4_000,
                      segment_events=SCRAMBLE_SPAN, warmup_segments=8,
                      n_segments=10, warmup_catchups=0, catchups=0,
                      lookups_per_round=2, multigets_per_round=1,
                      multiget_keys=8, min_rounds=5),
    "tail_cow": Shape(mode="cow", stream=True, n_convs=4_000,
                      segment_events=SCRAMBLE_SPAN, warmup_segments=8,
                      n_segments=10, warmup_catchups=0, catchups=0,
                      lookups_per_round=2, multigets_per_round=1,
                      multiget_keys=8, min_rounds=5),
}


def conv_key(i: int) -> str:
    return "c%08d" % i


def fingerprint_cols():
    """(row count, order-independent row hash sum) aggregate columns."""
    h = F.pmod(F.xxhash64(*[F.col(c) for c in USER_COLS]),
               F.lit(1 << 32))
    return [F.count(F.lit(1)).alias("n"), F.sum(h).alias("fp")]


def tree_files(root: str) -> dict[str, int]:
    """Non-hidden files under ``root`` → size (staging dirs and marker
    files start with a dot and are not table content)."""
    out: dict[str, int] = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(".")]
        for f in files:
            if not f.startswith("."):
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:
                    pass
    return out


class StampedList(list):
    """``timings=`` sink for ``run_stream``: stamps each micro-batch row
    with the time the engine appended it (the end of its foreachBatch)."""

    def append(self, row):
        row["t_end"] = time.perf_counter()
        super().append(row)


class CpuClock:
    """CPU seconds used so far by this Python process and the Spark driver
    JVM it launched (task, GC and other threads), read from /proc. The
    kernel leaves out the time a hypervisor takes a virtual CPU away
    (steal), so on a shared host this moves far less from run to run
    than wall time does. The JVM's JIT compiler threads are left out:
    how much of their warm-up work falls into a given window depends on
    how fast the host ran them, not on the work in the window. JVM
    threads are read in clock ticks (10 ms), so sum the clock over many
    operations rather than reading one."""

    TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, jvm_pid: int | None):
        self.proc = f"/proc/{jvm_pid}" if jvm_pid else None
        self.jit: dict[str, int] = {}   # compiler thread → ticks last seen

    def jvm(self) -> float:
        if self.proc is None:
            return 0.0
        with open(f"{self.proc}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        ticks = int(f[11]) + int(f[12])       # utime + stime, all threads
        # compiler threads come and go; one that has exited keeps the
        # ticks it was last seen with, as the process total does
        for tid in os.listdir(f"{self.proc}/task"):
            try:
                with open(f"{self.proc}/task/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            name, rest = raw.rsplit(")", 1)
            if "CompilerThre" in name:
                f = rest.split()
                self.jit[tid] = int(f[11]) + int(f[12])
        return (ticks - sum(self.jit.values())) / self.TICK

    def start(self) -> float:
        # the JVM first, so the bench's own /proc reads stay off the
        # Python process's share (and likewise in ``stop``)
        jvm = self.jvm()
        return jvm + time.process_time()

    def stop(self) -> float:
        py = time.process_time()
        return py + self.jvm()


def jvm_pid() -> int | None:
    """Pid of the driver JVM behind the active PySpark gateway."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


@dataclass
class Samples:
    """What one run measured; metrics and checks are computed from it."""
    workload: str
    seed: int
    setup_wall: float = 0.0
    setup_counters: dict[str, Any] = field(default_factory=dict)
    gen_wall: float = 0.0
    bootstrap_wall: float = 0.0
    ingest_s: float = 0.0
    ingest_cpu_s: float = 0.0
    events: int = 0
    # backlog: (events, wall, cpu) of each timed catch-up
    catchup_runs: list[tuple[int, float, float]] = field(
        default_factory=list)
    commit_latencies: list[float] = field(default_factory=list)
    lookup_walls: list[float] = field(default_factory=list)
    multiget_walls: list[float] = field(default_factory=list)
    scan_walls: list[float] = field(default_factory=list)
    read_cpu_s: float = 0.0           # CPU of the timed reads, summed
    reads: int = 0
    scan_results: list[tuple[int, int]] = field(default_factory=list)
    # (keys, last landed segment, stored rows returned)
    lookups: list[tuple[list[str], int, Any]] = field(default_factory=list)
    commits: int = 0
    bytes_written: int = 0
    bytes_stored: int = 0
    visible_rows: int = 0
    counters: dict[str, Any] = field(default_factory=dict)
    batch_rows: list[dict] = field(default_factory=list)
    catchups: list = field(default_factory=list)   # CatchUpResult per rep
    rep_counters: list[dict] = field(default_factory=list)
    stats: dict[str, Any] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)
    attempted: int = 0

    def raw(self) -> dict[str, Any]:
        """The timed samples, for the run's record."""
        return {"commit_latencies": self.commit_latencies,
                "lookup_walls": self.lookup_walls,
                "multiget_walls": self.multiget_walls,
                "scan_walls": self.scan_walls,
                "catchup_runs": self.catchup_runs}


class Workload:
    """One benchmark run of one workload in one work directory."""

    def __init__(self, spark, name: str, seed: int, seconds: float,
                 workdir: str, tracer=NULL_TRACER):
        self.spark = spark
        self.name = name
        self.shape = SHAPES[name]
        self.seed = seed
        self.seconds = seconds
        self.workdir = workdir
        self.tracer = tracer
        self.s = Samples(name, seed)
        sh = self.shape
        self.total_events = sh.segment_events * sh.n_files
        self.last_segment = sh.n_files - 1
        rng = random.Random(f"{name}:{seed}")
        # deterministic key choices: hot conversation 0 always sampled
        self.sample_convs = [conv_key(0)] + [
            conv_key(i) for i in rng.sample(range(1, sh.n_convs), 7)]
        self.round_keys: list[list[str]] = []
        self.round_multi: list[list[str]] = []
        for r in range(max(sh.n_segments, 64)):
            self.round_keys.append([
                conv_key(0) if (r + k) % 5 == 0
                else conv_key(rng.randrange(1, sh.n_convs))
                for k in range(sh.lookups_per_round)])
            self.round_multi.append([sorted(
                conv_key(i) for i in rng.sample(range(sh.n_convs),
                                                sh.multiget_keys))
                for _ in range(sh.multigets_per_round)])
        self.query = None
        self.query_run_id: str | None = None
        self.cpu = CpuClock(None)

    # ------------------------------------------------------------ set-up

    def land(self, seg: int) -> None:
        """Atomically publish one WAL segment into the source directory."""
        os.rename(os.path.join(self.dirs["stage"], self.segment_files[seg]),
                  os.path.join(self.dirs["src"], f"seg-{seg:05d}.parquet"))

    def setup(self) -> None:
        """WAL generation, segment files, base bootstrap and the untimed
        warm-up batches (one per warm-up segment)."""
        sh, spark, tr = self.shape, self.spark, self.tracer
        self.dirs = {k: os.path.join(self.workdir, k)
                     for k in ("stage", "src", "ckpt")}
        os.makedirs(self.dirs["src"])
        self.cpu = CpuClock(jvm_pid())
        t0 = time.perf_counter()
        with tr.span("gen.gen_change_events"):
            # one gen partition per segment, written as one file each, in
            # gen's own scrambled (out-of-order) row order
            (gen.gen_change_events(spark, n_events=self.total_events,
                                   n_convs=sh.n_convs, max_turns=MAX_TURNS,
                                   seed=self.seed,
                                   num_partitions=sh.n_files)
             .write.parquet(self.dirs["stage"]))
            self.segment_files = sorted(
                f for f in os.listdir(self.dirs["stage"])
                if f.endswith(".parquet"))
            if len(self.segment_files) != sh.n_files:
                raise RuntimeError(f"expected {sh.n_files} WAL "
                                   f"files, got {len(self.segment_files)}")
        t1 = time.perf_counter()
        table = self.base_table("base")
        t2 = time.perf_counter()
        self.base = table.path
        self.table = table
        with tr.span("bench.warmup"):
            if sh.stream:
                self.timings = StampedList()
                for seg in range(sh.warmup_segments):
                    self.land(seg)
                    if self.query is None:
                        self.query = run_stream(
                            spark, self.dirs["src"], table,
                            self.dirs["ckpt"], mode=sh.mode,
                            timings=self.timings,
                            compaction=CompactionPolicy()
                            if sh.mode == "mor" else None)
                        self.query_run_id = str(self.query.runId)
                    self._wait_batches(seg + 1)
                    self.lookup_round(seg, seg, NULL_TRACER)
            else:
                for seg in range(sh.n_files):
                    self.land(seg)
                for k in range(sh.warmup_catchups):
                    table = self.fresh_table(f"warmup{k}")
                    catch_up(spark, FileSource(self.dirs["src"]), table,
                             "backlog", chunk_lsns=self.chunk_lsns(),
                             mode=sh.mode)
            self.table = table
            for r in range(1, WARMUP_READ_ROUNDS + 1):
                for key in self.round_keys[-r]:
                    table.lookup(key).toPandas()
                for keys in self.round_multi[-r]:
                    table.lookup_many(keys).toPandas()
                read_state(table).agg(*fingerprint_cols()).collect()
        self.s.setup_wall = time.perf_counter() - t0
        self.s.gen_wall = t1 - t0
        self.s.bootstrap_wall = t2 - t1
        snap = table.current()
        files = tree_files(table.path)
        self.s.setup_counters = {
            "snapshot_id": snap.snapshot_id,
            "data_files": len(snap.files),
            "table_bytes": sum(files.values()),
            "table_files": len(files),
            "stored_rows": sum(f.rows for f in snap.files),
        }

    def base_table(self, name: str) -> LakeTable:
        """A new table under the work directory, bootstrapped with the
        seed's base state."""
        with self.tracer.span("merge.bootstrap"):
            table = LakeTable.create(self.spark,
                                     os.path.join(self.workdir, name),
                                     STORED_TRANSCRIPT_SCHEMA,
                                     n_buckets=N_BUCKETS)
            bootstrap(table, gen.gen_transcripts(
                self.spark, n_convs=self.shape.n_convs, max_turns=MAX_TURNS,
                seed=self.seed))
        return table

    def fresh_table(self, name: str) -> LakeTable:
        """A byte-for-byte copy of the bootstrapped base table (the copy
        costs milliseconds, a bootstrap seconds)."""
        path = os.path.join(self.workdir, name)
        shutil.copytree(self.base, path)
        return LakeTable.load(self.spark, path)

    def chunk_lsns(self) -> int:
        # the backlog's first chunk is half of it; catch_up's row budget
        # then sizes the next chunk, which takes the rest
        return self.shape.segment_events * self.shape.n_segments // 2

    def _wait_batches(self, n: int) -> None:
        """Block until ``n`` non-empty micro-batches have finished."""
        t0 = time.perf_counter()
        next_check = t0 + 0.5
        while sum(1 for r in self.timings if r.get("events_in")) < n:
            time.sleep(0.002)
            now = time.perf_counter()
            if now >= next_check:
                # the JVM round trip is kept off the 2 ms polling path
                next_check = now + 0.5
                if self.query.exception() is not None:
                    raise RuntimeError(
                        f"stream failed: {self.query.exception()}")
                if now - t0 > BATCH_TIMEOUT_S:
                    raise TimeoutError(f"micro-batch {n - 1} did not finish")

    # ------------------------------------------------------------- reads
    def _op(self, kind: str, fn):
        """Run one timed read; a raised error is a failed operation."""
        self.s.attempted += 1
        c = self.cpu.start()
        t = time.perf_counter()
        out = None
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - counted, not fatal
            self.s.failures.append(f"{kind}: {type(e).__name__}: {e}")
        wall = time.perf_counter() - t
        self.s.read_cpu_s += self.cpu.stop() - c
        self.s.reads += 1
        return out, wall

    def lookup_round(self, r: int, landed: int, tracer=None) -> None:
        """Lookups after segments 0..``landed`` have been applied."""
        tr, table = tracer or self.tracer, self.table
        for key in self.round_keys[r % len(self.round_keys)]:
            with tr.span("lake.lookup"):
                rows, wall = self._op(
                    "lookup", lambda: table.lookup(key).toPandas())
            self.s.lookup_walls.append(wall)
            if rows is not None:
                self.s.lookups.append(([key], landed, rows))
        for keys in self.round_multi[r % len(self.round_multi)]:
            with tr.span("lake.lookup_many"):
                rows, wall = self._op(
                    "lookup_many",
                    lambda: table.lookup_many(keys).toPandas())
            self.s.multiget_walls.append(wall)
            if rows is not None:
                self.s.lookups.append((keys, landed, rows))

    def scan(self) -> None:
        with self.tracer.span("merge.read_state"):
            row, wall = self._op("scan", lambda: read_state(self.table)
                                 .agg(*fingerprint_cols()).collect()[0])
        self.s.scan_walls.append(wall)
        if row is not None:
            self.s.scan_results.append((int(row["n"]), int(row["fp"] or 0)))

    # -------------------------------------------------------- timed phase
    def run(self) -> None:
        sh = self.shape
        self.s.lookup_walls.clear()
        self.s.multiget_walls.clear()
        t_start = time.perf_counter()
        if sh.stream:
            self._run_tail()
        else:
            self._run_backlog()
        # read CPU counts the reads from here on only: the stream has
        # stopped, so no trigger polls the source directory meanwhile
        self.s.read_cpu_s, self.s.reads = 0.0, 0
        rounds = 0
        while True:
            self.lookup_round(rounds, self.last_segment)
            self.scan()
            rounds += 1
            if rounds >= sh.min_rounds and \
                    time.perf_counter() - t_start >= self.seconds:
                break
        snap = self.table.current()
        with self.tracer.span("lake.stats") as sp:
            sp.attrs.update(self.table.stats())
        self.s.stats = {
            "data_files": sum(1 for f in snap.files if f.bucket is not None),
            "delta_files": sum(1 for f in snap.files if f.bucket is None),
            "snapshots": len(self.table.history()),
        }
        self.s.bytes_stored = sum(
            os.path.getsize(os.path.join(self.table.path, f.path))
            for f in snap.files)
        self.s.visible_rows = (self.s.scan_results[-1][0]
                               if self.s.scan_results else 0)
        self.s.counters = {
            "commits": self.s.commits,
            "spans": (list(self.s.catchups[-1].spans) if self.s.catchups
                      else [r.get("events_in") for r in self.s.batch_rows]),
            "files": len(snap.files),
            "bytes_written": self.s.bytes_written,
            "bytes_stored": self.s.bytes_stored,
            "visible_rows": self.s.visible_rows,
        }

    def _run_backlog(self) -> None:
        """The whole backlog, caught up ``catchups`` times, each into a
        new copy of the base table. The last table stays for the reads.
        Every catch-up must write the same commits and bytes."""
        sh, tr = self.shape, self.tracer
        for k in range(1, sh.catchups + 1):
            table = self.fresh_table(f"table{k}")
            before = tree_files(table.path)
            c0 = self.cpu.start()
            t0 = time.perf_counter()
            with tr.span("catchup.catch_up") as sp:
                res = catch_up(self.spark,
                               TracedFileSource(self.dirs["src"], tr),
                               table, "backlog",
                               chunk_lsns=self.chunk_lsns(), mode=sh.mode)
            t1 = time.perf_counter()
            cpu = self.cpu.stop() - c0
            sp.attrs.update(chunks_committed=res.chunks_committed,
                            degradations=res.degradations,
                            read_s=res.walls.get("read_s", 0.0),
                            apply_s=res.walls.get("apply_s", 0.0))
            self.s.ingest_s += t1 - t0
            self.s.ingest_cpu_s += cpu
            self.s.events += res.events
            self.s.catchup_runs.append((res.events, t1 - t0, cpu))
            self.s.catchups.append(res)
            # per-chunk commit latency: commit-to-commit interval, from
            # the committed snapshots' own timestamps (the first from the
            # call's start)
            prev = time.time() - (time.perf_counter() - t0)
            for ts in sorted(s.timestamp_ms / 1000.0
                             for s in table.history()
                             if s.snapshot_id in set(res.snapshots)):
                self.s.commit_latencies.append(max(ts - prev, 0.0))
                prev = ts
            written = sum(n for p, n in tree_files(table.path).items()
                          if p not in before)
            self.s.rep_counters.append({
                "commits": res.chunks_committed, "spans": list(res.spans),
                "bytes_written": written})
            self.s.commits += res.chunks_committed
            self.s.bytes_written += written
        self.table = table

    def _run_tail(self) -> None:
        sh, tr = self.shape, self.tracer
        before = tree_files(self.table.path)
        snap0 = self.table.current().snapshot_id
        seen = dict(before)
        written: dict[str, int] = {}
        done = sum(1 for r in self.timings if r.get("events_in"))
        c0 = self.cpu.start()
        for i, seg in enumerate(range(sh.warmup_segments, sh.n_files)):
            with tr.span("stream.batch", batch=seg) as sp:
                tr.foreign_parent = sp.id
                t0 = time.perf_counter()
                self.land(seg)
                self._wait_batches(done + i + 1)
                t1 = time.perf_counter()
            tr.foreign_parent = None
            lat = t1 - t0
            self.s.attempted += 1          # the commit is an operation
            self.s.commit_latencies.append(lat)
            self.s.ingest_s += lat
            row = [r for r in self.timings if r.get("events_in")][-1]
            self.s.events += int(row["events_in"])
            self.s.batch_rows.append({**row, "batch_id_seq": seg,
                                      "latency_s": lat})
            # files created in this batch (compaction and expiry may
            # delete some before the window ends, so list per batch)
            for p, n in tree_files(self.table.path).items():
                if p not in seen:
                    written[p] = n
                    seen[p] = n
        self.s.ingest_cpu_s = self.cpu.stop() - c0
        self.query.stop()
        self.query = None
        self.s.commits = self.table.current().snapshot_id - snap0
        self.s.bytes_written = sum(written.values())

    def close(self) -> None:
        if self.query is not None:
            try:
                self.query.stop()
            finally:
                self.query = None


class TracedFileSource(FileSource):
    """FileSource whose bounded reads are spans (catch-up chunk reads).
    With the null tracer it is a plain FileSource."""

    def __init__(self, path: str, tracer):
        super().__init__(path)
        self._tracer = tracer

    def read_batch(self, spark, *, since_lsn=None, max_lsn=None):
        with self._tracer.span("catchup.read", since_lsn=since_lsn,
                               max_lsn=max_lsn):
            return super().read_batch(spark, since_lsn=since_lsn,
                                      max_lsn=max_lsn)


def install_hooks(tracer) -> "callable":
    """Traced run only: wrap the layer calls that catch-up and the stream
    make internally (``apply_batch``, ``maintain``, the dead-letter split)
    in spans, with the engine's own phase walls laid out as child spans.
    Returns the undo."""
    import rockefeller_spark.catchup as catchup_mod
    import rockefeller_spark.stream as stream_mod

    def traced_apply(orig):
        def apply_batch(table, events, **kw):
            with tracer.span("merge.apply_batch") as sp:
                res = orig(table, events, **kw)
            tm = res.timings or {}
            sp.attrs.update(
                events_in=res.events_in or 0, rows_written=res.rows_written,
                buckets_touched=len(res.buckets_touched),
                attempts=res.attempts, rebased=int(res.rebased),
                skipped=int(res.skipped),
                **{k: tm.get(k, 0.0) for k in
                   ("census_s", "stage_s", "commit_s", "total_s")})
            if tm:
                s, e = sp.start, sp.end
                commit, stage = tm["commit_s"], tm["stage_s"]
                tracer.add("merge.census", s, s + tm["census_s"], sp.id)
                tracer.add("merge.stage", e - commit - stage, e - commit,
                           sp.id)
                tracer.add("merge.commit", e - commit, e, sp.id)
            return res
        return apply_batch

    def traced_maintain(orig):
        def maintain(table, policy):
            with tracer.span("maintenance.maintain") as sp:
                actions = orig(table, policy)
            rewrote = (actions.get("full_compact") is True
                       or isinstance(actions.get("bucket_compacts"), list)
                       and bool(actions.get("bucket_compacts")))
            sp.attrs.update(compacted=int(rewrote))
            return actions
        return maintain

    def traced_split(orig):
        def split_quarantine_observed(events):
            with tracer.span("quarantine.split_quarantine_observed"):
                return orig(events)
        return split_quarantine_observed

    saved = [(catchup_mod, "apply_batch", catchup_mod.apply_batch),
             (stream_mod, "apply_batch", stream_mod.apply_batch),
             (stream_mod, "maintain", stream_mod.maintain),
             (stream_mod, "split_quarantine_observed",
              stream_mod.split_quarantine_observed)]
    catchup_mod.apply_batch = traced_apply(saved[0][2])
    stream_mod.apply_batch = traced_apply(saved[1][2])
    stream_mod.maintain = traced_maintain(saved[2][2])
    stream_mod.split_quarantine_observed = traced_split(saved[3][2])

    def undo():
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
    return undo
