"""`icelake` — an Iceberg-semantics lake table layer on plain Parquet.

No Iceberg/Delta jars exist in this sandbox (verified: nothing matching
iceberg/delta/hudi under ``$SPARK_HOME/jars``), so this module reproduces
the Iceberg semantics the north rule exercises, with the same public shape
(``append / overwrite_buckets / read / evolve / snapshot``) so a real
Iceberg catalog can be swapped in later without touching callers:

- **Atomic snapshot commits.** A commit writes a new immutable metadata
  JSON ``metadata/v{N}.json`` via exclusive create, then atomically renames
  a new ``version-hint.text`` over the old one. A crash at ANY point before
  the hint swap leaves the previous snapshot fully intact; newly written
  data files become ignorable orphans (exactly Iceberg's model).
- **File-level pruning stats.** Every data file is pinned to one key
  bucket (``bucket = pmod(xxhash64(conv_id), n_buckets)``) and carries
  row-count + lsn min/max from its Parquet footer, so MERGE rewrites only
  files whose bucket intersects the batch's touched keys — O(batch), not
  O(table), at 10^10 events.
- **Additive schema evolution without rewrite.** New columns land only in
  metadata + new files; old files are read with the current schema and
  null-filled (Spark's explicit-schema Parquet read does this natively).
- **Epoch idempotence.** Each commit may record a ``(stream_id, epoch)``;
  a replayed ``foreachBatch`` epoch is detected and skipped, making the
  streaming sink exactly-once across restarts.
- **Time travel.** Any previous snapshot is readable by id.

The reference's sink was per-row INSERT + per-entity commit + per-row
rollback (``/root/reference/scripts/collector.py:54-69,139-141``); here a
commit is an all-or-nothing snapshot and bad rows are pre-filtered, never
rolled back.

**Commit-protocol portability (the object-store deployment seam).** The
protocol above relies on exactly THREE filesystem primitives, each of
which must be replaced for an S3-class object store (where a real 100-TB
deployment lives; plain S3 has no atomic rename and only conditional
PUT). Everything else — immutable data files, immutable content-addressed
manifest shards, orphan semantics, snapshot layout — is already
object-store-shaped (write-once blobs, never renamed after staging):

1. ``O_EXCL`` exclusive create of ``metadata/v{N}.json`` (the version
   race, ``_write_snapshot``) → a conditional PUT (``If-None-Match: *``,
   supported by S3/GCS/Azure) or a catalog CAS (Iceberg's model: the
   catalog swaps the metadata pointer transactionally).
2. Atomic ``rename`` of ``version-hint.text`` (the readers' pointer) →
   the same catalog pointer swap; with a catalog, the hint file
   disappears entirely and readers ask the catalog for the current
   metadata location.
3. ``.maint.lock`` ``O_EXCL`` create + atomic-rename stale-break (the
   maintenance mutex) → a lease with TTL in a transactional store
   (DynamoDB conditional update, a catalog lock table) — the token +
   stale-break semantics carry over one-to-one.

The seam is real code, not documentation: every commit-protocol call in
this module goes through a pluggable :mod:`rockefeller_spark.backends`
object (``LakeTable.backend_factory``, default ``PosixBackend``). The
``FakeObjectStoreBackend`` implements the S3-semantics forms (conditional
PUT, catalog CAS pointer, no rename-based visibility) and the crash/race
suites run against BOTH backends, so the engine provably depends only on
the portable contract. The maintenance mutex (primitive 3) stays POSIX
here — it serializes only maintenance, and its lease-translation is
documented in ``backends.py``.
"""

from __future__ import annotations

import bisect
import copy
import json
import logging
import os
import re
import shutil
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import date, datetime, timezone
from typing import Any, Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rockefeller_spark.backends import PosixBackend
from rockefeller_spark.schema import KEY_COLS
from rockefeller_spark.session import ENGINE_CONFS

try:                             # ~5x faster manifest parse when present
    import orjson as _fastjson   # public PyPI package, optional
except ImportError:              # pragma: no cover - env without orjson
    _fastjson = None


def _json_loads(raw: bytes) -> Any:
    return _fastjson.loads(raw) if _fastjson is not None else json.loads(raw)


logger = logging.getLogger(__name__)

HINT_FILE = "version-hint.text"
_LISTING_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"
MAINT_LOCK = ".maint.lock"
# bucket-spanning merge-on-read delta files live in a dedicated shard
DELTA_SHARD = -1


class CommitConflictError(RuntimeError):
    """Another writer committed the same version first (optimistic
    concurrency, single-winner)."""


class MultiVersionError(ValueError):
    """The requested operation needs a single-version table but
    merge-on-read deltas are pending (run a full ``compact()`` first).
    Subclasses ValueError for callers that matched the old message, but
    lets maintenance distinguish this ROUTINE refusal (defer, retry next
    cycle) from a genuine invariant-violation ValueError, which must
    propagate."""


@dataclass(slots=True)
class DataFile:
    path: str          # relative to table root
    bucket: int | None
    rows: int
    min_lsn: int | None = None
    max_lsn: int | None = None
    # For bucket-spanning MOR delta files (bucket=None): the set of key
    # buckets the file's rows may belong to, recorded at append time from
    # the batch's touched-bucket index. Lets reads / the change feed keep
    # pruning under a delta trickle instead of scanning every delta for
    # every bucket. None = unknown (may span all buckets).
    buckets: list[int] | None = None
    # snapshot id this file was committed at (stamped by ``commit``):
    # its SCHEMA VINTAGE. Rename/drop evolution is resolved per file by
    # replaying the table's name log from this vintage forward (Iceberg
    # tracks the same lineage with field ids). None = predates the name
    # log entirely (every log entry applies).
    schema_v: int | None = None
    # per-column data-skipping stats (Iceberg's lower/upper bounds): the
    # event-time range of the file's rows as epoch MICROS, stamped from
    # parquet footer stats at stage time. Time-bounded reads (the
    # change-feed-by-timestamp shape) prune whole files on these.
    min_ts: int | None = None
    max_ts: int | None = None
    # sort marker (Iceberg sort-order analog): names of the columns this
    # file's rows are clustered by (compaction's key sort), so readers
    # know row-group stats are selective without re-deriving it.
    sorted_by: list[str] | None = None
    # key-column value bounds (Iceberg lower/upper bounds on the bucket
    # column), stamped from parquet footer stats at stage time. After a
    # key-sorted compaction splits a bucket into size-targeted files the
    # ranges are disjoint, so a point lookup opens ONE file of the
    # bucket, not all of them (consumed by read(key_range=)/lookup()).
    min_key: str | None = None
    max_key: str | None = None
    # generalized per-column data skipping (Iceberg lower/upper bounds +
    # null counts for EVERY leaf column, not just ts/key): column name →
    # ``[lo, hi, null_count]``, stamped from parquet footer stats at stage
    # time. Timestamps stored as epoch micros; string bounds truncated to
    # ``LakeTable.stats_truncate_chars`` with an upper-bound-safe bump
    # (Iceberg's truncate transform). Columns with dedicated fields
    # (``_lsn``, ``ts``, the bucket key) are excluded — their bounds live
    # above. None = stamped before this field existed (kept conservative).
    stats: dict[str, list] | None = None
    # key bloom filter (base64 bitset) for bucket-SPANNING delta files:
    # their min_key/max_key bounds cover the whole key space, so a point
    # lookup would otherwise open EVERY pending delta; the bloom rules a
    # delta out from its manifest entry alone — zero file GETs. Stamped
    # only when rows ≤ ``LakeTable.bloom_max_rows`` (the trickle shape the
    # filter exists for — a big batch's delta saturates it anyway), so
    # manifest growth stays bounded and transient (compaction folds
    # deltas in and the entries disappear). None = absent/oversize.
    key_bloom: str | None = None

    def to_json(self) -> dict[str, Any]:
        d: dict[str, Any] = {"path": self.path, "bucket": self.bucket,
                             "rows": self.rows, "min_lsn": self.min_lsn,
                             "max_lsn": self.max_lsn}
        if self.buckets is not None:
            d["buckets"] = self.buckets
        if self.schema_v is not None:
            d["schema_v"] = self.schema_v
        if self.min_ts is not None:
            d["min_ts"] = self.min_ts
            d["max_ts"] = self.max_ts
        if self.sorted_by is not None:
            d["sorted_by"] = self.sorted_by
        if self.min_key is not None:
            d["min_key"] = self.min_key
            d["max_key"] = self.max_key
        if self.stats is not None:
            d["stats"] = self.stats
        if self.key_bloom is not None:
            d["key_bloom"] = self.key_bloom
        return d

    @staticmethod
    def from_json(d: dict[str, Any]) -> "DataFile":
        return DataFile(d["path"], d.get("bucket"), d["rows"],
                        d.get("min_lsn"), d.get("max_lsn"),
                        d.get("buckets"), d.get("schema_v"),
                        d.get("min_ts"), d.get("max_ts"),
                        d.get("sorted_by"),
                        d.get("min_key"), d.get("max_key"),
                        d.get("stats"), d.get("key_bloom"))


# columnar manifest layout (format_version 2): one list per DataFile field,
# parallel by index — array-of-arrays JSON parses ~3x faster than
# array-of-objects (no per-file dict), and scale consumers can use the raw
# columns WITHOUT constructing DataFile objects at all (_cols_* helpers).
_COL_FIELDS = ("path", "bucket", "rows", "min_lsn", "max_lsn",
               "buckets", "schema_v", "min_ts", "max_ts", "sorted_by",
               "min_key", "max_key", "stats", "key_bloom")


def _files_to_cols(files: list[DataFile]) -> dict[str, list]:
    return {name: [getattr(f, name) for f in files] for name in _COL_FIELDS}


def _encode_cols(cols: dict[str, list], n: int) -> dict[str, Any]:
    """Constant-encode uniform columns: ``{"=": v}`` instead of ``[v]*n``.
    In practice ``sorted_by`` (a list of strings PER FILE), ``schema_v``
    and ``buckets`` are shard-uniform, and they dominate parse cost —
    measured 3.9x faster orjson parse of a typical post-compaction shard
    (5.3 ms → 1.4 ms per 8192 entries; ~1.7 s for a 10^7-file full-list
    parse). Matters because orjson parse HOLDS the GIL (measured: a
    16-thread parse pool is 2.4x SLOWER than serial) so the driver can't
    buy parse speed with threads — only smaller shards help."""
    out: dict[str, Any] = {}
    for k, v in cols.items():
        first = v[0] if v else None
        if n > 1 and v and all(x == first for x in v):
            out[k] = {"=": first}
        else:
            out[k] = v
    return out


def _decode_cols(d: dict[str, Any]) -> dict[str, list]:
    """Inverse of ``_encode_cols`` for a raw manifest dict; also accepts
    pre-encoding v2 shards (plain lists, no ``n``). Constant columns
    expand to ``[v]*n`` sharing ONE value object, so decode is ~free and
    object construction reuses the shared ref instead of allocating a
    list per file."""
    cols = d["cols"]
    n = d.get("n")
    if n is None:
        n = next((len(v) for v in cols.values() if isinstance(v, list)), 0)

    def _expand(v):
        if not isinstance(v, dict):
            return v
        c = v["="]
        if isinstance(c, list):
            # list-valued columns (buckets, sorted_by) get a COPY per row:
            # a shared ref would let one file's in-place mutation silently
            # corrupt every file decoded from the shard
            return [list(c) for _ in range(n)]
        return [c] * n     # scalars are immutable — the shared ref is free

    out = {k: _expand(v) for k, v in cols.items()}
    # shards written before a stats column existed (e.g. min_key/max_key)
    # read as all-None for it — additive field evolution, no rewrite
    for k in _COL_FIELDS:
        if k not in out:
            out[k] = [None] * n
    return out


def _cols_to_files(cols: dict[str, list]) -> list[DataFile]:
    return [DataFile(*vals) for vals in zip(*(cols[n] for n in _COL_FIELDS))]


def _cols_to_files_except(cols: dict[str, list],
                          exclude: set[str]) -> list[DataFile]:
    """Construct DataFiles only for entries NOT in ``exclude`` (path set).
    A commit that removes most of a shard (compaction, rescale) then pays
    object construction only for survivors — a FULL compact constructs
    zero objects from 10^7 removed entries instead of 10^7 throwaways."""
    return [DataFile(*vals) for vals in zip(*(cols[n] for n in _COL_FIELDS))
            if vals[0] not in exclude]


@dataclass
class ManifestEntry:
    """One immutable manifest file (a shard of the table's file list) as
    referenced from a snapshot: the bucket RANGE it covers + aggregate
    stats, Iceberg manifest-list analog. Untouched shards carry the SAME
    entry (same path) from snapshot to snapshot, so a commit serializes
    only the shards it changed — O(batch + files/shard), not O(total
    files) — and a pruned read loads only the shards whose range
    intersects the requested buckets (:meth:`Snapshot.files_for`).

    ``[lo, hi)`` is a half-open key-bucket range; live entries' ranges
    are pairwise DISJOINT (maintained by ``_rebuild_manifests``), so the
    covering shard set for any bucket is computable from the manifest
    list alone, with zero manifest I/O. ``lo = hi = None`` marks the
    bucket-spanning merge-on-read delta shard. A shard whose entry count
    outgrows ``manifest_target_entries`` is SPLIT into contiguous
    sub-ranges the next time a commit touches it — the shard count grows
    with the table, keeping the per-commit rewrite O(target) at any
    file count."""
    path: str          # relative to table root, metadata/m-*.json
    lo: int | None     # bucket range [lo, hi); None/None = delta shard
    hi: int | None
    n_files: int
    rows: int
    min_lsn: int | None = None
    max_lsn: int | None = None

    def covers(self, bucket: int) -> bool:
        return self.lo is not None and self.lo <= bucket < self.hi

    def to_json(self) -> dict[str, Any]:
        return {"path": self.path, "lo": self.lo, "hi": self.hi,
                "n_files": self.n_files, "rows": self.rows,
                "min_lsn": self.min_lsn, "max_lsn": self.max_lsn}

    @staticmethod
    def from_json(d: dict[str, Any]) -> "ManifestEntry":
        if "shard" in d and "lo" not in d:
            # pre-range metadata (entries keyed by fixed shard id): parsing
            # it as lo=None would misread every range shard as a bucket-
            # spanning delta shard and silently resurrect removed files on
            # the next CoW commit — refuse loudly instead.
            raise ValueError(
                "manifest entry uses the legacy fixed-shard layout "
                f"({d.get('shard')!r}); this table was written by an older "
                "engine version — rewrite it (read old + bootstrap new) "
                "before opening with this engine")
        return ManifestEntry(d["path"], d.get("lo"), d.get("hi"),
                             d["n_files"], d["rows"],
                             d.get("min_lsn"), d.get("max_lsn"))


# A manifest shard is split once it holds more than this many DataFile
# entries, so commit cost stays O(target + adds) at ANY table file count
# (10^8 files ≈ 12k shards ≈ a ~1.5 MB manifest list — still driver-trivial).
MANIFEST_TARGET_ENTRIES = 8192


def n_shards_for(n_buckets: int) -> int:
    """INITIAL manifest-shard grid for a bucket count: enough shards that
    one shard's rewrite stays small, few enough that the manifest LIST in
    the snapshot stays tiny (32 shards at 4096 buckets = 128 buckets/
    shard). Growth beyond the grid happens by SPLITTING: a shard that
    exceeds ``MANIFEST_TARGET_ENTRIES`` files is rewritten as multiple
    contiguous sub-ranges when next touched."""
    return max(1, min(32, n_buckets))


def shard_of(bucket: int | None, n_buckets: int, n_shards: int) -> int:
    """Contiguous bucket-range grid (bucket b -> shard b*S//B)."""
    if bucket is None:
        return DELTA_SHARD
    return bucket * n_shards // n_buckets


def grid_range(shard: int, n_buckets: int, n_shards: int) -> tuple[int, int]:
    """The bucket range [lo, hi) of grid cell ``shard`` — the exact
    preimage of :func:`shard_of` (b*S//B == s  ⟺  ceil(sB/S) ≤ b <
    ceil((s+1)B/S))."""
    return (-(-shard * n_buckets // n_shards),
            -(-(shard + 1) * n_buckets // n_shards))


class Snapshot:
    """One committed table version. The serialized form (format_version 2)
    holds a MANIFEST LIST — small, O(n_shards) — not the file list; the
    per-shard manifest files hold the ``DataFile`` entries and are
    immutable + content-addressed, so unchanged shards are shared across
    snapshots byte-identically (Iceberg's manifest reuse). ``files`` is a
    lazily-materialized view loaded through the owning table's manifest
    cache."""

    def __init__(self, snapshot_id: int, parent_id: int | None,
                 schema: T.StructType, n_buckets: int, bucket_col: str,
                 files: list[DataFile] | None = None,
                 committed_epochs: dict[str, int] | None = None,
                 lineage: dict[str, Any] | None = None,
                 timestamp_ms: int = 0,
                 multi_version: bool = False, *,
                 manifests: list[ManifestEntry] | None = None,
                 loader: Callable[[str], list[DataFile]] | None = None,
                 cols_loader: Callable[[str], dict[str, list]] | None = None,
                 name_log: list[dict[str, Any]] | None = None):
        # The apply merge and compaction resolve last-writer-wins per
        # (bucket, key); that equals a per-key resolve only when the bucket
        # is a function of the key. Checked here so both create() and a
        # load of older metadata refuse a non-key bucket column.
        if bucket_col not in KEY_COLS:
            raise ValueError(
                f"bucket_col {bucket_col!r} is not a key column "
                f"{KEY_COLS}: the per-(bucket, key) LWW resolve would keep "
                f"one winner per bucket instead of one per key")
        self.snapshot_id = snapshot_id
        self.parent_id = parent_id
        self.schema = schema
        self.n_buckets = n_buckets
        self.bucket_col = bucket_col
        self.committed_epochs = dict(committed_epochs or {})
        self.lineage = dict(lineage or {})
        self.timestamp_ms = timestamp_ms
        # Ordered record of rename/drop evolution, the engine's analog of
        # Iceberg field ids: entries like {"v": snapshot_id, "rename":
        # ["old", "new"]} or {"v": snapshot_id, "drop": "col"}. A data
        # file written at vintage v is read by resolving each CURRENT
        # column name backward through entries with v_entry > v
        # (see :meth:`vintage_name`); files never rewrite on rename/drop.
        self.name_log = list(name_log or [])
        # True when merge-on-read deltas were appended since the last full
        # resolve: a key may have MULTIPLE stored versions and readers must
        # reduce by max _lsn (read_state does). Copy-on-write commits and
        # compaction keep/restore single-version state (False).
        self.multi_version = multi_version
        self._files: list[DataFile] | None = (
            list(files) if files is not None else None)
        self.manifests = manifests
        self._loader = loader
        self._cols_loader = cols_loader
        # bulk accessors (threaded byte prefetch), attached by
        # LakeTable.snapshot(); optional — accessors fall back to the
        # one-shard loaders above
        self._prefetch: Callable[[list[str]], None] | None = None
        self._cols_iter: Callable[[list[str]], Any] | None = None

    @property
    def files(self) -> list[DataFile]:
        if self._files is None:
            if self.manifests is None or self._loader is None:
                raise RuntimeError(
                    f"snapshot v{self.snapshot_id} has neither materialized "
                    f"files nor a manifest loader")
            if self._prefetch is not None:
                self._prefetch([e.path for e in self.manifests])
            self._files = [f for e in self.manifests
                           for f in self._loader(e.path)]
        return self._files

    def files_for(self, buckets: set[int] | None) -> list[DataFile]:
        """The data files relevant to the given key buckets, loading ONLY
        the manifest shards whose bucket range intersects (plus any delta
        shards, filtered by their recorded touched-bucket sets) — the
        read-side twin of the commit path's touched-shard rewrite. A
        one-bucket lookup against a 10^8-file table loads one shard's
        manifest, not the full file list. ``buckets=None`` returns every
        file (materializing all shards)."""
        if buckets is None:
            return self.files

        def keep(f: DataFile) -> bool:
            if f.bucket is not None:
                return f.bucket in buckets
            return f.buckets is None or not buckets.isdisjoint(f.buckets)

        if self._files is not None or self.manifests is None \
                or self._loader is None:
            return [f for f in self.files if keep(f)]
        covering = [e for e in self.manifests
                    if e.lo is None or any(e.lo <= b < e.hi for b in buckets)]
        if self._prefetch is not None and len(covering) > 2:
            self._prefetch([e.path for e in covering])
        out: list[DataFile] = []
        for e in covering:
            out.extend(f for f in self._loader(e.path) if keep(f))
        return out

    def file_columns(self):
        """Iterate the FULL file list as per-shard COLUMNAR views (dicts
        of parallel lists keyed by ``DataFile`` field name) — the scale
        path for whole-table metadata consumers that need a column or two
        (read planning, the orphan sweep, compaction sizing). Skips
        DataFile construction entirely: at 10^7 files that construction
        alone costs ~7 s of GIL-bound driver time, ~3x the parse itself."""
        if self._files is not None or self.manifests is None \
                or self._cols_loader is None:
            yield _files_to_cols(self.files)
            return
        if self._cols_iter is not None:
            yield from self._cols_iter([e.path for e in self.manifests])
            return
        for e in self.manifests:
            yield self._cols_loader(e.path)

    def to_json(self) -> dict[str, Any]:
        if self.manifests is None:
            raise RuntimeError(
                "snapshot has no manifests; commit through LakeTable so the "
                "file list is sharded into manifest files first")
        return {
            "format_version": 2,
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "schema": json.loads(self.schema.json()),
            "n_buckets": self.n_buckets,
            "bucket_col": self.bucket_col,
            "manifests": [e.to_json() for e in self.manifests],
            "committed_epochs": self.committed_epochs,
            "lineage": self.lineage,
            "timestamp_ms": self.timestamp_ms,
            "multi_version": self.multi_version,
            "name_log": self.name_log,
        }

    @staticmethod
    def from_json(d: dict[str, Any],
                  loader: Callable[[str], list[DataFile]] | None = None,
                  cols_loader: Callable[[str], dict[str, list]] | None = None
                  ) -> "Snapshot":
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d.get("parent_id"),
            schema=T.StructType.fromJson(d["schema"]),
            n_buckets=d["n_buckets"],
            bucket_col=d.get("bucket_col", "conv_id"),
            files=([DataFile.from_json(f) for f in d["files"]]
                   if "files" in d else None),
            committed_epochs=dict(d.get("committed_epochs", {})),
            lineage=d.get("lineage", {}),
            timestamp_ms=d.get("timestamp_ms", 0),
            multi_version=d.get("multi_version", False),
            manifests=[ManifestEntry.from_json(e)
                       for e in d.get("manifests", [])] if "manifests" in d
                      else None,
            loader=loader,
            cols_loader=cols_loader,
            name_log=d.get("name_log", []),
        )

    def vintage_name(self, current_name: str,
                     schema_v: int | None) -> str | None:
        """The on-disk column name holding current column ``current_name``
        in a file of vintage ``schema_v`` — or None when that column does
        not exist in files of that vintage (it was added, or RE-added
        after a drop, later than the file; its on-disk namesake, if any,
        is a dead field whose stale values must never resurface). Walks
        the name log newest-first down to the file's vintage:

        - ``rename [old, new]``: tracking ``new`` continues as ``old``;
          tracking ``old`` terminates (before the rename, that name
          belonged to a different field — the one that is now ``new``).
        - ``drop col``: tracking ``col`` terminates (the file's same-named
          column is the dropped field, not the current one).
        """
        v = -1 if schema_v is None else schema_v
        name = current_name
        for entry in reversed(self.name_log):
            if entry["v"] <= v:
                break
            if "rename" in entry:
                old, new = entry["rename"]
                if name == new:
                    name = old
                elif name == old:
                    return None
            elif "drop" in entry and entry["drop"] == name:
                return None
        return name

    def file_era(self, schema_v: int | None) -> int:
        """Files sharing an era share their whole column mapping: the era
        is the count of name-log entries NEWER than the file's vintage
        (0 = current names; tables that never renamed/dropped have one
        era and take the single-scan fast path)."""
        v = -1 if schema_v is None else schema_v
        return sum(1 for entry in self.name_log if entry["v"] > v)


def _file_diff(a: Snapshot, b: Snapshot) \
        -> "tuple[list[DataFile], list[DataFile]]":
    """(files in b not in a, files in a not in b) — the net delta between
    two snapshots — loading ONLY the manifest shards whose entries differ
    (untouched shards share entries byte-identically, so they are skipped
    without I/O)."""
    if (a.manifests is None or b.manifests is None
            or a._loader is None or b._loader is None):
        pa, pb = {f.path: f for f in a.files}, {f.path: f for f in b.files}
    else:
        ea = {e.path for e in a.manifests}
        eb = {e.path for e in b.manifests}
        pa = {f.path: f for e in a.manifests if e.path not in eb
              for f in a._loader(e.path)}            # type: ignore[misc]
        pb = {f.path: f for e in b.manifests if e.path not in ea
              for f in b._loader(e.path)}            # type: ignore[misc]
    return ([f for p, f in pb.items() if p not in pa],
            [f for p, f in pa.items() if p not in pb])


def changed_buckets(a: Snapshot, b: Snapshot) -> set[int] | None:
    """Buckets whose file sets differ between two snapshots of the SAME
    bucket layout — computed from metadata only (:func:`_file_diff`).
    Returns None when a changed bucket-spanning delta file carries no
    touched-bucket set (unknown reach = every bucket may have changed).
    Used by the change feed's pruning and by commit rebase's
    disjointness check."""
    added, removed = _file_diff(a, b)
    return _touched_buckets(added + removed)


def _touched_buckets(files: "list[DataFile]") -> set[int] | None:
    out: set[int] = set()
    for f in files:
        if f.bucket is not None:
            out.add(f.bucket)
        elif f.buckets is not None:
            out.update(f.buckets)
        else:
            return None
    return out


def bucket_expr(col: str, n_buckets: int):
    """The table's key-bucketing function: stable across engines and scale."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


@contextmanager
def _stats_friendly_writes(spark: SparkSession):
    """Pin the parquet confs the file-bounds stamping depends on, for the
    duration of one staging write, restoring the caller's values after.

    The engine's own sessions pin these globally (``session.py``), but the
    lake must stamp correct footer bounds under ANY session: a vanilla
    SparkSession writes timestamps as INT96
    (``spark.sql.parquet.outputTimestampType`` default), and INT96 parquet
    columns carry NO min/max statistics — so ``min_ts``/``max_ts`` would
    silently stamp None and time-range file pruning would degrade to a
    no-op (round-6 driver-gate failure). These are runtime SQL confs, read
    at write execution, so a scoped set/restore is sufficient."""
    conf = spark.conf
    key = "spark.sql.parquet.outputTimestampType"
    prev = conf.get(key)
    if prev == "TIMESTAMP_MICROS":
        yield            # already pinned (engine session): zero conf churn
        return
    conf.set(key, "TIMESTAMP_MICROS")
    try:
        yield
    finally:
        conf.set(key, prev)


def _trunc_lower(s: str, k: int) -> str:
    """A valid LOWER bound for ``s`` of at most ``k`` chars (a prefix
    sorts ≤ the full string) — Iceberg's truncate transform."""
    return s if len(s) <= k else s[:k]


def _trunc_upper(s: str, k: int) -> str | None:
    """A valid UPPER bound for ``s`` of at most ``k`` chars: the prefix
    with its last incrementable code point bumped (skipping the surrogate
    block — orjson rejects lone surrogates). None when no prefix char can
    be incremented (all U+10FFFF) — the caller drops the bound."""
    if len(s) <= k:
        return s
    p = s[:k]
    for i in range(len(p) - 1, -1, -1):
        c = ord(p[i])
        if c >= 0x10FFFF:
            continue
        c += 1
        if 0xD800 <= c <= 0xDFFF:
            c = 0xE000
        return p[:i] + chr(c)
    return None


_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Pure-Python XXH64 (reference algorithm), seed 42 — the exact hash
    Spark's ``F.xxhash64`` computes over a string's UTF-8 bytes. Driver-
    side so a point lookup can compute its key's bucket WITHOUT launching
    a 1-row Spark job (pinned equal to ``bucket_expr`` by test). Returns
    the SIGNED 64-bit value Spark returns."""
    n = len(data)
    i = 0
    if n >= 32:
        acc = [(seed + _XXP1 + _XXP2) & _M64, (seed + _XXP2) & _M64,
               seed & _M64, (seed - _XXP1) & _M64]
        while i + 32 <= n:
            for lane in range(4):
                k = int.from_bytes(data[i + 8 * lane:i + 8 * lane + 8],
                                   "little")
                a = (acc[lane] + k * _XXP2) & _M64
                acc[lane] = (_rotl64(a, 31) * _XXP1) & _M64
            i += 32
        h = (_rotl64(acc[0], 1) + _rotl64(acc[1], 7)
             + _rotl64(acc[2], 12) + _rotl64(acc[3], 18)) & _M64
        for v in acc:
            k = (_rotl64((v * _XXP2) & _M64, 31) * _XXP1) & _M64
            h = (((h ^ k) * _XXP1) + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = int.from_bytes(data[i:i + 8], "little")
        k = (_rotl64((k * _XXP2) & _M64, 31) * _XXP1) & _M64
        h = ((_rotl64(h ^ k, 27) * _XXP1) + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i:i + 4], "little")
        h = ((_rotl64(h ^ ((k * _XXP1) & _M64), 23) * _XXP2) + _XXP3) & _M64
        i += 4
    while i < n:
        h = (_rotl64(h ^ ((data[i] * _XXP5) & _M64), 11) * _XXP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def key_bucket(key_value: str, n_buckets: int) -> int:
    """Driver-side twin of ``bucket_expr`` for one key (pmod of the
    signed xxhash64, like Spark's pmod)."""
    return xxhash64(key_value.encode("utf-8")) % n_buckets


# ---- per-file key bloom filters (manifest-stored, delta files only) ----
# Planner-side membership sketch for bucket-spanning MOR delta files: a
# point lookup can rule a pending delta OUT from its manifest entry alone
# (no file GET). k positions derive from one 128-bit blake2b digest via
# double hashing (Kirsch-Mitzenmacher) — a C-speed hash, because stamping
# rides the MOR apply hot path. Iceberg's analog keeps bloom filters in
# the parquet footer (still a GET per file to consult); pending deltas are
# few and transient, so the manifest can afford to carry the bits.
_BLOOM_K = 6


def _bloom_hashes(key: str) -> tuple[int, int]:
    import hashlib
    d = hashlib.blake2b(key.encode("utf-8"), digest_size=16).digest()
    return (int.from_bytes(d[:8], "little"),
            int.from_bytes(d[8:], "little") | 1)


def bloom_from_keys(keys: "set[str]") -> str:
    """Base64 bitset sized ~10 bits/key (power of two, ≥4096 bits,
    ≤2^19) — ~1% false positives at the design load."""
    import base64
    m = 4096
    while m < 10 * len(keys) and m < (1 << 19):
        m <<= 1
    bits = bytearray(m >> 3)
    for key in keys:
        h1, h2 = _bloom_hashes(key)
        for i in range(_BLOOM_K):
            p = (h1 + i * h2) % m
            bits[p >> 3] |= 1 << (p & 7)
    return base64.b64encode(bytes(bits)).decode("ascii")


def bloom_might_contain(b64: str, key: str) -> bool:
    """False = the key is DEFINITELY absent (safe to skip the file)."""
    import base64
    bits = base64.b64decode(b64)
    m = len(bits) << 3
    h1, h2 = _bloom_hashes(key)
    for i in range(_BLOOM_K):
        p = (h1 + i * h2) % m
        if not bits[p >> 3] & (1 << (p & 7)):
            return False
    return True


_STATS_POOL: "ThreadPoolExecutor | None" = None
_STATS_POOL_LOCK = threading.Lock()


def _stats_pool() -> ThreadPoolExecutor:
    """Process-wide executor for parquet footer-stat reads (stateless
    tasks; shared across tables and sessions so commits don't re-pay
    thread startup)."""
    global _STATS_POOL
    if _STATS_POOL is None:
        with _STATS_POOL_LOCK:
            if _STATS_POOL is None:
                _STATS_POOL = ThreadPoolExecutor(
                    max_workers=16, thread_name_prefix="rk-footer-stats")
    return _STATS_POOL


class LakeTable:
    """Handle on one icelake table rooted at ``path``.

    Constructing a handle raises its session's
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` to the
    engine's value (``session.ENGINE_CONFS``) while the conf still holds
    Spark's default of 32: :meth:`read` hands every scan its exact file
    paths, and above the threshold Spark would launch a listing job just
    to stat them. A value the session set on purpose is left alone. The
    conf is set once here, not per read, so concurrent readers never see
    it flip."""

    # shard-split threshold; class-level so tests can lower it per table
    manifest_target_entries = MANIFEST_TARGET_ENTRIES
    # commit-protocol storage backend (see backends.py). Class-level so
    # every handle the engine constructs internally — stream appliers,
    # maintenance workers, test drivers loading by path — picks up the
    # same deployment choice; tests swap in FakeObjectStoreBackend here
    # to run the crash/race suites under S3 semantics.
    backend_factory: Callable[[str], Any] = PosixBackend
    # generalized per-column data skipping (DataFile.stats): string bounds
    # truncate to this many chars (Iceberg's truncate transform — keeps
    # manifests small; bounds stay valid, just less selective), and at
    # most this many columns are stamped per file (wide tables stamp the
    # leading columns; the rest simply don't prune)
    stats_truncate_chars = 32
    stats_max_columns = 32
    # bucket-spanning MOR delta files at or under this row count get a
    # manifest-stored key bloom filter at stage time (see DataFile.
    # key_bloom); bigger deltas skip it (saturated sketch, wasted bytes)
    bloom_max_rows = 50_000

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        if spark is not None and spark.conf.get(_LISTING_CONF, "32") == "32":
            spark.conf.set(_LISTING_CONF, ENGINE_CONFS[_LISTING_CONF])
        self.path = os.path.abspath(path)
        self.backend = self.backend_factory(self.path)
        self.data_dir = os.path.join(self.path, "data")
        self.meta_dir = os.path.join(self.path, "metadata")
        # branch binding (None = the main table): set only by on_branch(),
        # which returns a shallow-copied handle whose version namespace,
        # current pointer and commit point all route to the branch — every
        # write path (apply/append/overwrite/compact/DML) then lands on
        # the branch head with zero changes of its own
        self._branch: str | None = None
        self._branch_base: int | None = None
        # manifest files are immutable once committed, so caching by path
        # is safe across versions; the cache makes repeated snapshot()/
        # history() walks O(changed shards) I/O instead of O(table)
        self._manifest_cache: dict[str, list[DataFile]] = {}

    # ---------------------------------------------------------------- setup
    @classmethod
    def create(cls, spark: SparkSession, path: str, schema: T.StructType,
               n_buckets: int = 32, bucket_col: str = "conv_id") -> "LakeTable":
        snap = Snapshot(0, None, schema, n_buckets, bucket_col, [],
                        timestamp_ms=int(time.time() * 1000))
        t = cls(spark, path)
        if t.backend.exists(t._HINT_REL):
            raise FileExistsError(f"table already exists at {path}")
        os.makedirs(t.data_dir, exist_ok=True)
        os.makedirs(t.meta_dir, exist_ok=True)
        t._write_snapshot(snap)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        t.current()  # raises if missing
        return t

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(os.path.abspath(path), "metadata", HINT_FILE))

    # ------------------------------------------------------------- snapshots
    def _meta_path(self, version: int) -> str:
        return os.path.join(self.path, self._meta_rel(version))

    def _meta_rel(self, version: int) -> str:
        # a branch handle's snapshots PAST the fork point live in the
        # branch's own namespace; the shared prefix (<= base) stays in
        # main's — one version-id sequence per ref, no cross-ref races
        if self._branch is not None and version > self._branch_base:
            return os.path.join(self._BRANCH_DIR, self._branch,
                                f"v{version:08d}.json")
        return os.path.join("metadata", f"v{version:08d}.json")

    _HINT_REL = os.path.join("metadata", HINT_FILE)

    def _pointer_rel(self) -> str:
        """The readers'-pointer object this handle commits through: the
        table hint on main, the branch head on a branch handle."""
        if self._branch is not None:
            return self._branch_head_rel(self._branch)
        return self._HINT_REL

    def current_version(self) -> int:
        return self.backend.read_pointer(self._pointer_rel())

    def current(self) -> Snapshot:
        return self.snapshot(self.current_version())

    def snapshot(self, version: "int | str") -> Snapshot:
        if isinstance(version, str):
            # tags resolve to a main-namespace id; a BRANCH name resolves
            # to its head snapshot (which lives in the branch namespace),
            # so route through a branch-bound handle — read("audit") /
            # snapshot("audit") then follow the branch head by name
            if self._REF_NAME_RE.match(version) \
                    and self.backend.exists(self._branch_rel(version)):
                if self._branch == version:
                    # a branch-bound handle asked for its OWN branch by
                    # name: that's just its head (falling through would
                    # mis-resolve via tags and raise)
                    return self.current()
                return self.on_branch(version).current()
            version = self.resolve_ref(version)
        try:
            snap = Snapshot.from_json(
                _json_loads(self.backend.read(self._meta_rel(version))),
                loader=self._load_manifest,
                cols_loader=self._load_manifest_cols)
            snap._prefetch = self._prefetch_manifests
            snap._cols_iter = self._iter_manifest_cols
            return snap
        except FileNotFoundError:
            raise ValueError(
                f"snapshot v{version} does not exist (never committed, or "
                f"expired by expire_snapshots); available: "
                f"{[s.snapshot_id for s in self.history()]}") from None

    def snapshot_as_of(self, ts: "int | float | datetime") -> Snapshot:
        """Timestamp time travel: the latest snapshot committed at or
        before ``ts`` (a datetime, or an epoch number — values ≥ 10^11
        read as milliseconds, below as seconds, unambiguous for any date
        between 1973 and 5138 — Delta's ``timestampAsOf`` / Iceberg's
        ``snapshot_id_as_of_timestamp`` analog). Raises cleanly when the
        timestamp predates every RETAINED snapshot (earlier history was
        reclaimed by ``expire_snapshots`` — re-bootstrap from a full read,
        same contract as an expired cursor)."""
        if isinstance(ts, datetime):
            ms = int(ts.timestamp() * 1000)
        else:
            ms = int(ts) if ts >= 1e11 else int(ts * 1000)
        cands = [s for s in self.history() if s.timestamp_ms <= ms]
        if not cands:
            earliest = min((s.timestamp_ms for s in self.history()),
                           default=None)
            raise ValueError(
                f"no snapshot at or before timestamp_ms={ms} (earliest "
                f"retained: {earliest}; earlier history may have been "
                f"expired by expire_snapshots)")
        return max(cands, key=lambda s: s.snapshot_id)

    # ------------------------------------------------------------- manifests
    def _read_manifest_raw(self, rel_path: str) -> dict[str, Any]:
        return _json_loads(self.backend.read(rel_path))

    @staticmethod
    def _decode_manifest_files(d: dict[str, Any]) -> list[DataFile]:
        if "cols" in d:
            return _cols_to_files(_decode_cols(d))
        return [DataFile.from_json(f) for f in d["files"]]  # v1 row-form

    def _load_manifest(self, rel_path: str) -> list[DataFile]:
        files = self._manifest_cache.get(rel_path)
        if files is None:
            files = self._decode_manifest_files(
                self._read_manifest_raw(rel_path))
            self._manifest_cache[rel_path] = files
        return files

    def _prefetch_manifests(self, rel_paths: list[str]) -> None:
        """Warm the manifest cache for many shards at once: byte reads go
        through a thread pool (file/object GETs release the GIL — on an
        object store 1000+ serial ~50 ms GETs would be the whole wall),
        parse + object construction stay on the calling thread (orjson
        parse is GIL-bound; a parse pool measures SLOWER than serial)."""
        missing = [r for r in rel_paths if r not in self._manifest_cache]
        if len(missing) <= 2:
            for r in missing:
                self._load_manifest(r)
            return
        # WINDOWED in-flight futures (same pattern as _iter_manifest_cols):
        # an unbounded pool.map would buffer every raw blob ahead of the
        # serial GIL-bound parse loop — O(total manifest bytes) peak driver
        # memory at the 10^7-file scale this code targets
        pool = ThreadPoolExecutor(max_workers=16)
        try:
            window: dict[str, Any] = {}
            submitted = 0
            for rel in missing:
                while submitted < len(missing) and len(window) < 64:
                    nxt = missing[submitted]
                    window[nxt] = pool.submit(self.backend.read, nxt)
                    submitted += 1
                blob = window.pop(rel).result()
                self._manifest_cache[rel] = self._decode_manifest_files(
                    _json_loads(blob))
        finally:
            pool.shutdown(wait=False, cancel_futures=True)

    def _load_manifest_cols(self, rel_path: str) -> dict[str, list]:
        """Columnar view of one manifest shard — parse WITHOUT building a
        DataFile per entry. At 10^7 files object construction alone costs
        ~5 s of GIL-bound driver time; full-table consumers that need only
        a column or two (read planning: path+schema_v; orphan sweep: path;
        compact sizing: bucket+rows) go through this instead."""
        files = self._manifest_cache.get(rel_path)
        if files is not None:              # objects already paid for
            return _files_to_cols(files)
        d = self._read_manifest_raw(rel_path)
        if "cols" in d:
            return _decode_cols(d)
        cols: dict[str, list] = {n: [] for n in _COL_FIELDS}
        for f in d["files"]:               # legacy row-form shard
            for n in _COL_FIELDS:
                cols[n].append(f.get(n) if n != "path" else f["path"])
        return cols

    def _iter_manifest_cols(self, rel_paths: list[str]):
        """Streaming columnar views over many shards with WINDOWED byte
        prefetch: up to 64 shard blobs in flight on reader threads while
        the caller consumes decoded views one at a time — I/O (or object-
        store GET latency) overlaps the GIL-bound parse without holding
        every blob in memory at once."""
        pool = ThreadPoolExecutor(max_workers=16)
        try:
            window: dict[str, Any] = {}
            queue = list(rel_paths)
            submitted = 0
            for rel in queue:
                while submitted < len(queue) and len(window) < 64:
                    nxt = queue[submitted]
                    if nxt not in self._manifest_cache:
                        window[nxt] = pool.submit(self.backend.read, nxt)
                    submitted += 1
                fut = window.pop(rel, None)
                if fut is None:
                    yield self._load_manifest_cols(rel)
                else:
                    d = _json_loads(fut.result())
                    yield (_decode_cols(d) if "cols" in d
                           else self._load_manifest_cols(rel))
        finally:
            pool.shutdown(wait=False, cancel_futures=True)

    def _write_manifest(self, files: list[DataFile], lo: int | None,
                        hi: int | None) -> ManifestEntry:
        rel = os.path.join("metadata", f"m-{uuid.uuid4().hex}.json")
        payload = {"format_version": 2, "n": len(files),
                   "cols": _encode_cols(_files_to_cols(files), len(files))}
        blob = (_fastjson.dumps(payload) if _fastjson is not None
                else json.dumps(payload).encode())
        # uuid path → no contention, but put-if-absent keeps the write-once
        # invariant backend-enforced rather than assumed
        self.backend.put_if_absent(rel, blob)
        self._manifest_cache[rel] = list(files)
        lsns = [f.min_lsn for f in files if f.min_lsn is not None]
        lsnx = [f.max_lsn for f in files if f.max_lsn is not None]
        return ManifestEntry(rel, lo, hi, len(files),
                             sum(f.rows for f in files),
                             min(lsns) if lsns else None,
                             max(lsnx) if lsnx else None)

    def _emit_range(self, files: list[DataFile], lo: int, hi: int
                    ) -> list[ManifestEntry]:
        """Write one bucket range's files as manifest shard(s), SPLITTING
        into contiguous sub-ranges (balanced by file count, boundaries on
        bucket edges) when the count exceeds ``manifest_target_entries``
        — the shard-growth mechanism that keeps each shard's rewrite cost
        bounded as the table's file count grows. A single bucket cannot
        split below itself (its files stay one shard however many)."""
        target = self.manifest_target_entries
        if len(files) <= target or hi - lo <= 1:
            return [self._write_manifest(files, lo, hi)]
        by_b: dict[int, list[DataFile]] = {}
        for f in files:
            by_b.setdefault(f.bucket, []).append(f)
        k = min(-(-len(files) // target), hi - lo)
        share = -(-len(files) // k)
        out: list[ManifestEntry] = []
        cur: list[DataFile] = []
        cur_lo = lo
        for b in sorted(by_b):
            if cur and len(cur) + len(by_b[b]) > share and len(out) < k - 1:
                out.append(self._write_manifest(cur, cur_lo, b))
                cur, cur_lo = [], b
            cur.extend(by_b[b])
        out.append(self._write_manifest(cur, cur_lo, hi))
        return out

    def _emit_delta(self, files: list[DataFile]) -> list[ManifestEntry]:
        """Write the bucket-spanning delta files' manifest shard(s),
        chunked by ``manifest_target_entries`` (pending deltas stay few
        under routine compaction; the chunking is the same growth
        backstop as :meth:`_emit_range`)."""
        target = self.manifest_target_entries
        return [self._write_manifest(files[i:i + target], None, None)
                for i in range(0, len(files), target)]

    def _shard_all(self, files: list[DataFile], n_buckets: int
                   ) -> list[ManifestEntry]:
        """Full reshard: write every shard's manifest fresh (table create,
        bucket rescale — operations that rewrite everything anyway)."""
        ns = n_shards_for(n_buckets)
        by_shard: dict[int, list[DataFile]] = {}
        deltas: list[DataFile] = []
        for f in files:
            if f.bucket is None:
                deltas.append(f)
            else:
                by_shard.setdefault(
                    shard_of(f.bucket, n_buckets, ns), []).append(f)
        out: list[ManifestEntry] = []
        for s, fs in sorted(by_shard.items()):
            lo, hi = grid_range(s, n_buckets, ns)
            out.extend(self._emit_range(fs, lo, hi))
        if deltas:
            out.extend(self._emit_delta(deltas))
        return out

    @staticmethod
    def _path_bucket(path: str) -> int | None:
        """A data file's bucket, recovered from its name (``_stage_write``
        pins it there: ``-b{bucket:05d}.parquet`` — the format string
        widens past 5 digits for bucket ids ≥ 100000, hence ``\\d{5,}`` —
        / ``-delta.parquet``) — lets a commit locate a removed file's
        manifest shard without loading any untouched manifest."""
        name = os.path.basename(path)
        if name.endswith("-delta.parquet"):
            return None
        m = re.search(r"-b(\d{5,})\.parquet$", name)
        if m is None:
            raise ValueError(f"data file name carries no bucket: {path}")
        return int(m.group(1))

    def _rebuild_manifests(self, base: Snapshot, adds: list[DataFile],
                           remove_paths: set[str]) -> list[ManifestEntry]:
        """The incremental-commit core: carry every untouched shard's
        manifest entry forward VERBATIM (no load, no serialize) and
        rewrite only shards whose bucket range intersects the commit's
        touched buckets. Commit metadata cost is O(adds + removes +
        files-in-touched-shards + n_shards), independent of total table
        file count. Maintains the invariant that live range entries are
        pairwise DISJOINT: rewritten shards keep their ranges (splitting
        when over ``manifest_target_entries``); buckets no existing entry
        covers get fresh ranges carved from the UNCOVERED gaps, aligned
        to the initial grid so a young table shards exactly as
        :meth:`_shard_all` would."""
        base_entries = base.manifests or []
        range_entries = [e for e in base_entries if e.lo is not None]
        delta_entries = [e for e in base_entries if e.lo is None]

        add_range = [f for f in adds if f.bucket is not None]
        delta_adds = [f for f in adds if f.bucket is None]
        touched_b = {f.bucket for f in add_range}
        delta_touched = bool(delta_adds)
        for p in remove_paths:
            b = self._path_bucket(p)
            if b is None:
                delta_touched = True
            else:
                touched_b.add(b)

        tb = sorted(touched_b)

        def hits(lo: int, hi: int) -> bool:
            i = bisect.bisect_left(tb, lo)
            return i < len(tb) and tb[i] < hi

        out: list[ManifestEntry] = []
        pool: list[DataFile] = list(add_range)
        ranges: list[tuple[int, int]] = []
        for e in range_entries:
            if hits(e.lo, e.hi):
                ranges.append((e.lo, e.hi))
                pool.extend(_cols_to_files_except(
                    self._load_manifest_cols(e.path), remove_paths))
            else:
                out.append(e)

        occupied = sorted((e.lo, e.hi) for e in range_entries)
        olos = [r[0] for r in occupied]

        def covering(b: int) -> tuple[int, int] | None:
            i = bisect.bisect_right(olos, b) - 1
            if i >= 0 and occupied[i][0] <= b < occupied[i][1]:
                return occupied[i]
            return None

        uncovered = [b for b in tb if covering(b) is None]
        if uncovered:
            # carve grid-aligned ranges out of the gaps between existing
            # entries (disjointness preserved: gaps are the complement of
            # every live range, grid cells are disjoint among themselves)
            ns = n_shards_for(base.n_buckets)
            fresh: set[tuple[int, int]] = set()
            for b in uncovered:
                i = bisect.bisect_right(olos, b) - 1
                gap_lo = occupied[i][1] if i >= 0 else 0
                gap_hi = (occupied[i + 1][0] if i + 1 < len(occupied)
                          else base.n_buckets)
                clo, chi = grid_range(shard_of(b, base.n_buckets, ns),
                                      base.n_buckets, ns)
                fresh.add((max(clo, gap_lo), min(chi, gap_hi)))
            ranges.extend(sorted(fresh))

        pool.sort(key=lambda f: f.bucket)
        pbuckets = [f.bucket for f in pool]
        assigned = 0
        for lo, hi in sorted(ranges):
            fs = pool[bisect.bisect_left(pbuckets, lo):
                      bisect.bisect_left(pbuckets, hi)]
            assigned += len(fs)
            if fs:
                out.extend(self._emit_range(fs, lo, hi))
        if assigned != len(pool):       # disjoint ranges ⇒ exact partition
            raise AssertionError(
                f"manifest rebuild lost files: {len(pool)} pooled, "
                f"{assigned} assigned to ranges {sorted(ranges)}")

        if delta_touched:
            dpool = [f for e in delta_entries
                     for f in _cols_to_files_except(
                         self._load_manifest_cols(e.path), remove_paths)]
            dpool.extend(delta_adds)
            if dpool:
                out.extend(self._emit_delta(dpool))
        else:
            out.extend(delta_entries)
        return out

    def history(self) -> list[Snapshot]:
        """All snapshots still on disk, oldest first. After
        ``expire_snapshots`` the list starts at the oldest retained
        version, not v0. On a branch handle: the shared main prefix up to
        the fork point, then the branch's own commits."""
        versions = sorted(
            int(f[1:9]) for f in os.listdir(self.meta_dir)
            if f.startswith("v") and f.endswith(".json"))
        if self._branch is not None:
            versions = ([v for v in versions if v <= self._branch_base]
                        + self._branch_versions(self._branch))
        return [self.snapshot(v) for v in versions]

    def _write_snapshot(self, snap: Snapshot) -> None:
        """The commit point. A conditional PUT of the metadata object wins
        the version race; the readers' pointer then advances (POSIX: atomic
        rename; object store: catalog CAS — see ``backends.py``). Manifest
        files are written BEFORE this (by ``commit``); a crash or a lost
        race leaves them as ignorable orphans behind the grace window,
        exactly like staged data files."""
        meta_rel = self._meta_rel(snap.snapshot_id)
        if snap.manifests is None:
            # direct-construction path (create(), tests): shard everything.
            # Cheap pre-check so a doomed commit writes no orphan manifests.
            if self.backend.exists(meta_rel):
                raise CommitConflictError(
                    f"snapshot {snap.snapshot_id} already committed")
            snap.manifests = self._shard_all(snap.files, snap.n_buckets)
        try:
            self.backend.put_if_absent(
                meta_rel, json.dumps(snap.to_json()).encode())
        except FileExistsError as e:
            # The object for this version exists. Either a concurrent
            # writer just won the race (it will advance the pointer
            # itself), or a PAST writer crashed between its PUT and the
            # pointer advance — in which case no pointer movement ever
            # happens on its behalf and every future commit of this
            # version conflicts forever: a wedged table. Complete the
            # publish for them (the PUT is all-or-nothing, so the object
            # is a valid snapshot; the advance is monotonic, so doing it
            # for a live concurrent winner is an idempotent no-op). The
            # crashed writer's caller retries its batch and the epoch
            # ledger turns the replay into skipped=True — the designed
            # at-least-once contract. Our own caller now rebases on the
            # repaired, visible version instead of spinning. A branch
            # drop's claim on the slot is no snapshot: never publish it.
            if self._branch is None or \
                    self.backend.read(meta_rel) != self._DROP_CLAIM:
                self.backend.advance_pointer(self._pointer_rel(),
                                             snap.snapshot_id)
            raise CommitConflictError(
                f"snapshot {snap.snapshot_id} already committed") from e
        if self._branch is not None and \
                not self.backend.exists(self._branch_rel(self._branch)):
            # the branch was dropped while this commit was in flight
            # (drop_branch deletes the ref first): withdraw the object
            # rather than report a commit no ref can reach
            self.backend.delete(meta_rel)
            raise CommitConflictError(f"branch {self._branch!r} was dropped")
        self.backend.advance_pointer(self._pointer_rel(), snap.snapshot_id)

    # ------------------------------------------------------------- data files
    def _stage_write(self, df: DataFrame, n_buckets: int, bucket_col: str,
                     write_salt: int = 0, pre_bucketed: bool = False,
                     span_buckets: bool = False,
                     sort_cols: list[str] | None = None,
                     salt_counts: dict[int, int] | None = None,
                     target_rows_per_file: int | None = None,
                     cluster_expr: "Any | None" = None) -> list[DataFile]:
        """Write ``df`` as Parquet under data/ and return the new DataFile
        entries (stats from Parquet footers, as Iceberg collects them at
        commit).

        Layouts:
        - default / ``pre_bucketed``: one file per (task, bucket) via
          ``partitionBy("_bucket")`` — every file pinned to one key bucket
          (prunable). ``pre_bucketed=True`` means ``df`` already carries
          ``_bucket`` and its partitioning (the fused single-shuffle apply
          path); otherwise ``write_salt`` > 0 spreads each bucket over
          ``write_salt`` write tasks (hot-conversation defense).
        - ``span_buckets=True``: UNPARTITIONED files spanning buckets
          (``DataFile.bucket=None``) — the merge-on-read delta layout
          (Hudi log-file analog). A small delta batch writes a handful of
          files instead of ≥n_buckets tiny ones; bucket pruning skips
          nothing for these files until compaction re-buckets them, which
          is the MOR trade (reads pay until compact).
        """
        stage = os.path.join(self.path, f".stage-{uuid.uuid4().hex}")
        moves: list[tuple[int | None, str]] = []   # (bucket, dst path)
        if span_buckets:
            with _stats_friendly_writes(self.spark):
                df.write.mode("overwrite").parquet(stage)
            for fname in sorted(os.listdir(stage)):
                if not fname.endswith(".parquet"):
                    continue
                new_name = f"{uuid.uuid4().hex}-delta.parquet"
                dst = os.path.join(self.data_dir, new_name)
                shutil.move(os.path.join(stage, fname), dst)
                moves.append((None, dst))
        else:
            if pre_bucketed:
                out = df
            elif salt_counts is not None and sort_cols:
                # size-targeted + key-clustered layout (Iceberg sort-order
                # compaction): a RANGE exchange on (_bucket, sort keys)
                # instead of the hash fan-out below, so the files a big
                # bucket splits into carry DISJOINT key ranges — the
                # min_key/max_key file bounds become selective and a point
                # lookup opens one file of the bucket, not all of them.
                # The deterministic all-column hash tie-breaker lets ONE
                # giant conversation still split across tasks (a range
                # boundary can land mid-key); maxRecordsPerFile below
                # bounds file sizes within each task. Costs one extra
                # sampling pass over the input (RangePartitioner) — a
                # maintenance-path trade, not on the apply hot path.
                vary = F.xxhash64(*[F.col(c) for c in df.columns
                                    if c not in ("_bucket", "_salt")])
                n_parts = max(sum(salt_counts.values()),
                              self.spark.sparkContext.defaultParallelism)
                # cluster_expr (a computed Column — e.g. compact()'s
                # z-order value) replaces the named sort columns as the
                # clustering key; sort_cols then only LABELS the layout
                # in DataFile.sorted_by. The expression never
                # materializes as a written column.
                cluster = ([cluster_expr] if cluster_expr is not None
                           else [F.col(c) for c in sort_cols])
                out = (df.withColumn("_bucket",
                                     bucket_expr(bucket_col, n_buckets))
                       .withColumn("_tiebreak", vary)
                       .repartitionByRange(
                           n_parts, F.col("_bucket"),
                           *cluster, F.col("_tiebreak"))
                       .drop("_tiebreak"))
            elif salt_counts is not None:
                # size-targeted layout: bucket b splits over salt_counts[b]
                # writer tasks (a tiny broadcast bucket→k map — per-bucket
                # fan-out, unlike the uniform write_salt, so small buckets
                # stay one file while big ones split to the target size)
                kdf = self.spark.createDataFrame(
                    [(int(b), int(k)) for b, k in salt_counts.items()],
                    "_bucket int, _k int")
                # variance source for the per-bucket file-salt: hash of ALL
                # row columns — schema-agnostic (not tied to the transcript
                # layout) and deterministic, so a retry of the same plan
                # reproduces the same file assignment
                vary = F.xxhash64(*[F.col(c) for c in df.columns
                                    if c not in ("_bucket", "_salt")])
                # PINNED partition count: AQE honors an explicit N (an
                # unpinned repartition gets its tiny (bucket, salt) groups
                # coalesced back together, undoing the fan-out); 2x the
                # group count keeps hash collisions (two groups → one
                # task → one double-size file) rare
                n_parts = max(2 * sum(salt_counts.values()),
                              self.spark.sparkContext.defaultParallelism)
                out = (df.withColumn("_bucket",
                                     bucket_expr(bucket_col, n_buckets))
                       .join(F.broadcast(kdf), "_bucket", "left")
                       .na.fill({"_k": 1})
                       .withColumn("_fsalt", F.pmod(vary, F.col("_k")))
                       .repartition(n_parts, F.col("_bucket"), F.col("_fsalt"))
                       .drop("_k", "_fsalt"))
            else:
                out = df.withColumn("_bucket", bucket_expr(bucket_col, n_buckets))
                if write_salt > 1:
                    # deterministic all-column hash (see salt_counts note)
                    salt = F.pmod(
                        F.xxhash64(*[F.col(c) for c in df.columns
                                     if c not in ("_bucket", "_salt")]),
                        F.lit(write_salt))
                    out = out.repartition(F.col("_bucket"), salt)
                else:
                    out = out.repartition(F.col("_bucket"))
            if sort_cols:
                # key-clustered layout (Iceberg sort-order analog): rows
                # sorted within each writer task → parquet row-group
                # min/max stats on the key become selective, so a point
                # lookup's pushed equality filter skips row groups inside
                # the bucket's files, not just files
                out = out.sortWithinPartitions(
                    "_bucket", *([cluster_expr] if cluster_expr is not None
                                 else sort_cols))
            writer = out.write.mode("overwrite")
            if target_rows_per_file is not None:
                # split a task's sorted run into bounded SEQUENTIAL files —
                # together with the range exchange above this keeps the
                # per-file key ranges disjoint at any bucket size
                writer = writer.option("maxRecordsPerFile",
                                       str(target_rows_per_file))
            with _stats_friendly_writes(self.spark):
                writer.partitionBy("_bucket").parquet(stage)
            for dirname in sorted(os.listdir(stage)):
                if not dirname.startswith("_bucket="):
                    continue
                bucket = int(dirname.split("=", 1)[1])
                bdir = os.path.join(stage, dirname)
                for fname in sorted(os.listdir(bdir)):
                    if not fname.endswith(".parquet"):
                        continue
                    new_name = f"{uuid.uuid4().hex}-b{bucket:05d}.parquet"
                    dst = os.path.join(self.data_dir, new_name)
                    shutil.move(os.path.join(bdir, fname), dst)
                    moves.append((bucket, dst))

        def _micros(v) -> int | None:
            # parquet timestamp stats surface as datetime (tz-naive UTC in
            # this engine; session timezone pinned) or raw int micros
            if v is None:
                return None
            if isinstance(v, datetime):
                if v.tzinfo is None:
                    v = v.replace(tzinfo=timezone.utc)
                return int(v.timestamp() * 1_000_000)
            return int(v)

        warned_empty_stats: set[str] = set()     # one warn per column/stage
        trunc_k = self.stats_truncate_chars

        def _stat_encode(v, *, lower: bool):
            """Normalize one footer stat to its manifest (JSON) form:
            timestamps → epoch micros, dates → ISO strings, bytes →
            UTF-8, strings → truncated bounds. Raises on types the
            skipping machinery can't order portably (the caller then
            drops that column's bounds)."""
            if v is None:
                return None
            if isinstance(v, datetime):
                return _micros(v)
            if isinstance(v, date):
                return v.isoformat()
            if isinstance(v, bytes):
                v = v.decode("utf-8")          # non-text binary → skip col
            if isinstance(v, str):
                return _trunc_lower(v, trunc_k) if lower \
                    else _trunc_upper(v, trunc_k)
            if isinstance(v, bool) or isinstance(v, (int, float)):
                return v
            raise TypeError(type(v).__name__)

        def stat_one(item: tuple[int | None, str]) -> DataFile:
            bucket, dst = item
            pf = pq.ParquetFile(dst)
            meta = pf.metadata
            nrows = meta.num_rows
            # ONE footer pass: raw (min, max, null_count, physical_type)
            # for every leaf column — the dedicated _lsn/ts/key fields and
            # the generalized per-column stats all derive from it
            raw: dict[str, tuple] = {}
            for i in range(meta.num_columns):
                cs = meta.schema.column(i)
                if "." in cs.path:             # nested leaf: not a top-
                    continue                   # level column, no bounds
                mins, maxs = [], []
                nulls, nulls_known = 0, True
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(i).statistics
                    if st is None:
                        nulls_known = False
                        continue
                    if st.has_min_max:
                        mins.append(st.min)
                        maxs.append(st.max)
                    if st.null_count is None:
                        nulls_known = False
                    else:
                        nulls += st.null_count
                raw[cs.path] = (min(mins) if mins else None,
                                max(maxs) if maxs else None,
                                nulls if nulls_known else None,
                                cs.physical_type)
            lo, hi = raw.get("_lsn", (None, None, None, None))[:2]
            min_lsn = int(lo) if lo is not None else None
            max_lsn = int(hi) if hi is not None else None
            # event-time bounds (epoch micros) for time-bounded file
            # pruning — Iceberg's per-column lower/upper bounds
            tlo, thi, _tn, tphys = raw.get("ts", (None, None, None, None))
            if (tlo is None and tphys == "INT96" and nrows > 0
                    and "ts" not in warned_empty_stats):
                # INT96 parquet columns carry no statistics — time-range
                # file pruning would silently degrade to a no-op; the
                # staging write pins TIMESTAMP_MICROS, so reaching here
                # means a foreign write path bypassed that pin
                warned_empty_stats.add("ts")
                logger.warning(
                    "parquet footer carries no min/max statistics for "
                    "column 'ts' (%s, INT96): time-range file pruning "
                    "will not apply to this commit's files",
                    os.path.basename(dst))
            # key-column value bounds for within-bucket file pruning
            # (parquet string stats may surface as bytes)
            klo, khi = raw.get(bucket_col, (None, None, None, None))[:2]
            if isinstance(klo, bytes):
                klo = klo.decode("utf-8", "replace")
            if isinstance(khi, bytes):
                khi = khi.decode("utf-8", "replace")
            # generalized data skipping: [lo, hi, null_count] for every
            # remaining leaf column the bounds machinery can order
            stats: dict[str, list] = {}
            for name, (slo, shi, snulls, _phys) in raw.items():
                if name in ("_lsn", "ts", bucket_col):
                    continue                   # dedicated fields above
                if len(stats) >= self.stats_max_columns:
                    break
                try:
                    elo = _stat_encode(slo, lower=True)
                    ehi = _stat_encode(shi, lower=False)
                except (UnicodeDecodeError, TypeError):
                    continue                   # unorderable / binary col
                if elo is None and ehi is None and not snulls:
                    continue                   # nothing skippable on it
                stats[name] = [elo, ehi, snulls]
            # bucket-spanning deltas get a key bloom while they're small
            # (the trickle shape): read back just the key column — this
            # thread pool, no Spark job — and sketch it. Oversize deltas
            # (a big MOR batch) skip: the bloom would saturate and the
            # manifest bytes would be wasted.
            key_bloom = None
            if bucket is None and 0 < nrows <= self.bloom_max_rows:
                kcol = pf.read(columns=[bucket_col]).column(0)
                keys = {k for k in kcol.to_pylist() if k is not None}
                if keys:
                    key_bloom = bloom_from_keys(keys)
            return DataFile(os.path.join("data", os.path.basename(dst)),
                            bucket, nrows, min_lsn, max_lsn,
                            min_ts=_micros(tlo), max_ts=_micros(thi),
                            sorted_by=list(sort_cols) if sort_cols else None,
                            min_key=(klo if isinstance(klo, str) else None),
                            max_key=(khi if isinstance(khi, str) else None),
                            stats=stats or None, key_bloom=key_bloom)

        # footer stats are tiny independent I/O reads; done serially they
        # dominate small-batch commits (≤n_buckets files × ~20 ms each),
        # so fan them out on a thread pool — order preserved by map.
        # The pool is PROCESS-SHARED and long-lived: creating a fresh
        # executor per stage write cost ~0.37 s of bare thread startup
        # per apply on this host (cProfile: threading.start dominated the
        # stat pass), a fixed tax on every micro-batch commit.
        files = list(_stats_pool().map(stat_one, moves))
        shutil.rmtree(stage)
        return files

    # ---------------------------------------------------------------- commits
    def commit(self, adds: list[DataFile], remove_paths: set[str],
               *, stream_id: str | None = None, epoch: int | None = None,
               new_schema: T.StructType | None = None,
               lineage: dict[str, Any] | None = None,
               expected_version: int | None = None,
               multi_version: bool | None = None,
               new_n_buckets: int | None = None,
               name_log_append: dict[str, Any] | None = None,
               merge_epochs: dict[str, int] | None = None) -> Snapshot:
        base_version = self.current_version()
        if expected_version is not None and base_version != expected_version:
            raise CommitConflictError(
                f"table moved: expected v{expected_version}, found v{base_version}")
        base = self.snapshot(base_version)
        # stamp each added file's schema vintage BEFORE manifests
        # serialize: the snapshot it lands in (rename/drop evolution
        # resolves per-file column names from it)
        for f in adds:
            f.schema_v = base_version + 1
        if new_n_buckets and new_n_buckets != base.n_buckets:
            # bucket-count evolution invalidates the shard mapping: full
            # reshard (the caller — rescale_buckets — rewrote all data
            # files anyway, so this is not the hot path)
            kept = [f for f in base.files if f.path not in remove_paths]
            manifests = self._shard_all(kept + adds, new_n_buckets)
        elif base.manifests is not None:
            manifests = self._rebuild_manifests(base, adds, remove_paths)
        else:
            kept = [f for f in base.files if f.path not in remove_paths]
            manifests = self._shard_all(kept + adds, base.n_buckets)
        epochs = dict(base.committed_epochs)
        if stream_id is not None and epoch is not None:
            epochs[stream_id] = max(epoch, epochs.get(stream_id, -1))
        if merge_epochs:
            # a branch publish folds the branch commits' ledger entries
            # onto main so exactly-once survives the fast-forward; max()
            # keeps the merge monotonic per stream
            for sid, ep in merge_epochs.items():
                epochs[sid] = max(int(ep), epochs.get(sid, -1))
        name_log = list(base.name_log)
        if name_log_append is not None:
            name_log.append({**name_log_append, "v": base_version + 1})
        snap = Snapshot(
            snapshot_id=base_version + 1,
            parent_id=base_version,
            schema=new_schema or base.schema,
            n_buckets=new_n_buckets or base.n_buckets,
            bucket_col=base.bucket_col,
            committed_epochs=epochs,
            lineage=lineage or {},
            timestamp_ms=int(time.time() * 1000),
            multi_version=(base.multi_version if multi_version is None
                           else multi_version),
            manifests=manifests,
            loader=self._load_manifest,
            cols_loader=self._load_manifest_cols,
            name_log=name_log,
        )
        self._write_snapshot(snap)
        return snap

    def epoch_committed(self, stream_id: str, epoch: int) -> bool:
        return self.current().committed_epochs.get(stream_id, -1) >= epoch

    def append(self, df: DataFrame, *, write_salt: int = 0,
               lineage: dict[str, Any] | None = None) -> Snapshot:
        snap = self.current()
        adds = self._stage_write(df, snap.n_buckets, snap.bucket_col, write_salt)
        return self.commit(adds, set(), lineage=lineage)

    def overwrite_buckets(self, df: DataFrame, buckets: set[int], *,
                          stream_id: str | None = None, epoch: int | None = None,
                          new_schema: T.StructType | None = None,
                          write_salt: int = 0,
                          lineage: dict[str, Any] | None = None) -> Snapshot:
        """Copy-on-write: replace exactly the files of ``buckets`` with the
        rows of ``df`` (which must contain only those buckets)."""
        snap = self.current()
        remove = {f.path for f in snap.files_for(buckets)
                  if f.bucket is not None}
        adds = self._stage_write(df, snap.n_buckets, snap.bucket_col, write_salt)
        bad = {f.bucket for f in adds} - buckets
        if bad:
            raise ValueError(f"overwrite df contains untouched buckets {sorted(bad)}")
        return self.commit(adds, remove, stream_id=stream_id, epoch=epoch,
                           new_schema=new_schema, lineage=lineage,
                           expected_version=snap.snapshot_id)

    def evolve(self, new_schema: T.StructType) -> Snapshot:
        """Additive/widening schema evolution: metadata-only commit, zero
        rewrite."""
        from rockefeller_spark.schema import evolve_additive
        snap = self.current()
        merged = evolve_additive(snap.schema, new_schema)
        return self.commit([], set(), new_schema=merged)

    # Engine-reserved names a rename/drop may never touch: the key/bucket
    # columns (bucketing and MERGE identity are keyed on them) and the
    # engine's meta columns.
    _PROTECTED_COLS = frozenset({"_lsn", "_deleted"})

    def rename_column(self, old: str, new: str) -> Snapshot:
        """Rename a payload column WITHOUT rewriting any file (Iceberg
        ``renameColumn`` semantics, realized with a name log instead of
        field ids): a metadata-only commit updates the schema and records
        the rename; readers resolve each file's on-disk name from its
        schema vintage (:meth:`Snapshot.vintage_name`). The freed old
        name may later be re-used by a NEW column — old files' stale
        values never resurface under it (their lineage terminates at the
        rename). Key/bucket and engine meta columns cannot be renamed."""
        from rockefeller_spark import schema as S
        snap = self.current()
        names = [f.name for f in snap.schema.fields]
        if old in S.KEY_COLS or old == snap.bucket_col \
                or old in self._PROTECTED_COLS:
            raise ValueError(f"cannot rename engine column {old!r}")
        if old not in names:
            raise ValueError(f"no such column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        fields = [T.StructField(new, f.dataType, f.nullable)
                  if f.name == old else f for f in snap.schema.fields]
        return self.commit([], set(), new_schema=T.StructType(fields),
                           lineage={"op": "rename_column",
                                    "from": old, "to": new},
                           name_log_append={"rename": [old, new]})

    def drop_column(self, col: str) -> Snapshot:
        """Drop a payload column WITHOUT rewriting any file: metadata-only
        commit; old files keep the bytes on disk but no read ever selects
        them again — and if the NAME is later re-added as a new column,
        pre-drop files read NULL for it, never the dead field's stale
        values (the name log terminates their lineage at the drop)."""
        from rockefeller_spark import schema as S
        snap = self.current()
        if col in S.KEY_COLS or col == snap.bucket_col \
                or col in self._PROTECTED_COLS:
            raise ValueError(f"cannot drop engine column {col!r}")
        if col not in [f.name for f in snap.schema.fields]:
            raise ValueError(f"no such column {col!r}")
        fields = [f for f in snap.schema.fields if f.name != col]
        return self.commit([], set(), new_schema=T.StructType(fields),
                           lineage={"op": "drop_column", "col": col},
                           name_log_append={"drop": col})

    # ------------------------------------------------------------------ reads
    @staticmethod
    def _ts_micros(v: "int | float | datetime") -> int:
        if isinstance(v, datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=timezone.utc)
            return int(v.timestamp() * 1_000_000)
        return int(v)

    def read(self, snapshot_id: "int | str | None" = None,
             buckets: set[int] | None = None, *,
             as_of: "int | float | datetime | None" = None,
             ts_range: "tuple | None" = None,
             key_range: "tuple[str | None, str | None] | None" = None,
             where: "dict[str, tuple] | None" = None,
             _snap: "Snapshot | None" = None) \
            -> DataFrame:
        """Snapshot-pinned read. Old files lacking newer (evolved) columns
        are null-filled because the read uses the snapshot's full schema.
        ``buckets`` prunes to the named key buckets via file stats — no
        scan of untouched BUCKETED files ever happens, and only the
        manifest shards covering those buckets are even LOADED
        (:meth:`Snapshot.files_for` — driver metadata cost O(covering
        shards), not O(table)); bucket-spanning merge-on-read delta files
        (bucket=None) are included only when their recorded touched-bucket
        set (``DataFile.buckets``, stamped at append time) intersects — an
        unannotated delta is always included. ``as_of`` reads the snapshot
        current at that timestamp (:meth:`snapshot_as_of`) instead of by
        id.

        ``ts_range=(lo, hi)`` (each an epoch-micros int or a datetime;
        either side None for open-ended) returns only rows whose event
        time ``ts`` falls in the CLOSED range — and prunes whole FILES
        first on the per-file ``min_ts``/``max_ts`` footer bounds stamped
        at write (Iceberg per-column stats): a time-bounded read of a
        long-lived table opens only the files whose time range overlaps,
        flat in table size once compaction has clustered history. Files
        without ts stats are conservatively kept; the row-level filter
        keeps the result exact either way (rows with NULL ts never
        qualify).

        ``key_range=(lo, hi)`` is the same file-bounds pruning on the
        KEY column's per-file ``min_key``/``max_key`` stats (either side
        None for open-ended, closed range). After a key-sorted compaction
        splits a bucket into size-targeted files their key ranges are
        disjoint, so a point lookup (``key_range=(k, k)``, what
        :meth:`lookup` passes) opens ONE file of the bucket instead of
        all of them. Files without key stats are conservatively kept and
        the row-level filter keeps the result exact.

        ``where={col: (lo, hi), ...}`` generalizes the same closed-range
        file skipping to EVERY column (Iceberg per-column lower/upper
        bounds + null counts, ``DataFile.stats``): files whose stamped
        bounds don't intersect a range — or whose rows are ALL NULL for
        a filtered column (a range filter matches no NULLs) — are pruned
        before any scan, and the exact row filter applies on top. ``ts``
        / the key column / ``_lsn`` route to their dedicated bounds, so
        ``where`` is a superset of ``ts_range``/``key_range``. String
        bounds are stored truncated (lower-prefix / bumped-upper), which
        only ever keeps extra files, never wrongly prunes. Columns
        written before stats stamping existed are conservatively kept."""
        if _snap is not None:
            if snapshot_id is not None or as_of is not None:
                raise ValueError("_snap excludes snapshot_id/as_of")
            snap = _snap
        elif as_of is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id or as_of, not both")
            snap = self.snapshot_as_of(as_of)
        else:
            snap = (self.snapshot(snapshot_id) if snapshot_id is not None
                    else self.current())
        ts_lo = ts_hi = None
        if ts_range is not None:
            lo, hi = ts_range
            ts_lo = self._ts_micros(lo) if lo is not None else None
            ts_hi = self._ts_micros(hi) if hi is not None else None

        def ts_keep(fmin: int | None, fmax: int | None) -> bool:
            # overlap test on file bounds; unknown bounds always kept
            if ts_hi is not None and fmin is not None and fmin > ts_hi:
                return False
            if ts_lo is not None and fmax is not None and fmax < ts_lo:
                return False
            return True

        key_lo, key_hi = key_range if key_range is not None else (None, None)

        def key_keep(kmin: str | None, kmax: str | None) -> bool:
            # same overlap test on the key column's string bounds
            if key_hi is not None and kmin is not None and kmin > key_hi:
                return False
            if key_lo is not None and kmax is not None and kmax < key_lo:
                return False
            return True

        # --- where= normalization: route the dedicated columns to their
        # bounds above; everything else prunes on DataFile.stats ---------
        lsn_lo = lsn_hi = None
        gen_cols: dict[str, tuple] = {}   # col -> (stat_lo, stat_hi, is_ts)
        if where:
            ftypes = {f.name: f.dataType for f in snap.schema.fields}
            for c, rng in where.items():
                lo, hi = rng
                if lo is None and hi is None:
                    # (None, None) is "no constraint": without this skip
                    # the all-NULL null-count prune below would drop files
                    # (and so rows) that no row-level filter ever excludes
                    if c not in ("ts", "_lsn", snap.bucket_col) \
                            and c not in ftypes:
                        raise ValueError(f"where column {c!r} is not in "
                                         "the table schema")
                    continue
                if c == "ts":
                    if ts_range is not None:
                        raise ValueError("pass ts bounds via ts_range or "
                                         "where['ts'], not both")
                    ts_lo = self._ts_micros(lo) if lo is not None else None
                    ts_hi = self._ts_micros(hi) if hi is not None else None
                elif c == snap.bucket_col:
                    if key_range is not None:
                        raise ValueError("pass key bounds via key_range or "
                                         f"where['{c}'], not both")
                    key_lo, key_hi = lo, hi
                elif c == "_lsn":
                    lsn_lo, lsn_hi = lo, hi
                else:
                    if c not in ftypes:
                        raise ValueError(f"where column {c!r} is not in the "
                                         "table schema")
                    is_ts = isinstance(ftypes[c], T.TimestampType)

                    def _sv(v):
                        if v is None:
                            return None
                        if is_ts:
                            return self._ts_micros(v)
                        if isinstance(v, date) and not isinstance(v, datetime):
                            return v.isoformat()   # stats store ISO dates
                        return v
                    gen_cols[c] = (_sv(lo), _sv(hi), is_ts)

        def gen_keep(stats: dict | None, fmin_lsn, fmax_lsn, frows) -> bool:
            # per-column bounds + null-count skipping; unknown stats kept
            if lsn_lo is not None and fmax_lsn is not None \
                    and fmax_lsn < lsn_lo:
                return False
            if lsn_hi is not None and fmin_lsn is not None \
                    and fmin_lsn > lsn_hi:
                return False
            for c, (slo, shi, _is_ts) in gen_cols.items():
                ent = stats.get(c) if stats else None
                if ent is None:
                    continue
                flo, fhi, fnulls = ent
                if flo is None and fhi is None:
                    if fnulls is not None and frows and fnulls >= frows:
                        return False   # all NULL: a range matches nothing
                    continue
                try:
                    if shi is not None and flo is not None and flo > shi:
                        return False
                    if slo is not None and fhi is not None and fhi < slo:
                        return False
                except TypeError:      # incomparable bound types: keep
                    continue
            return True

        gen_active = bool(gen_cols) or lsn_lo is not None \
            or lsn_hi is not None
        prune_active = gen_active or ts_lo is not None or ts_hi is not None \
            or key_lo is not None or key_hi is not None
        # POINT lookups additionally consult delta-file key blooms: a
        # pending bucket-spanning delta whose sketch rules the key out is
        # skipped from its manifest entry alone — no file GET
        point_key = key_lo if (key_lo is not None and key_lo == key_hi) \
            else None

        def bloom_keep(bloom: str | None) -> bool:
            return (point_key is None or bloom is None
                    or bloom_might_contain(bloom, point_key))

        # plan from COLUMNS, not DataFile objects: a full-table read at
        # 10^7 files needs only (path, schema_v[, era], ts bounds) —
        # object construction would triple the driver-side planning cost
        by_era: dict[int, list[str]] = {}      # era -> absolute paths
        era_sv: dict[int, int | None] = {}     # era -> a representative sv
        if buckets is None:
            era_cache: dict[int | None, int] = {}
            for cols in snap.file_columns():
                if not snap.name_log and not prune_active:
                    # single era, no pruning: skip per-file work entirely
                    by_era.setdefault(0, []).extend(
                        os.path.join(self.path, p) for p in cols["path"])
                    continue
                for p, sv, fmin, fmax, kmin, kmax, fst, flsn0, flsn1, \
                        frows, fbloom \
                        in zip(cols["path"], cols["schema_v"],
                               cols["min_ts"], cols["max_ts"],
                               cols["min_key"], cols["max_key"],
                               cols["stats"], cols["min_lsn"],
                               cols["max_lsn"], cols["rows"],
                               cols["key_bloom"]):
                    if not ts_keep(fmin, fmax) or not key_keep(kmin, kmax):
                        continue
                    if gen_active and not gen_keep(fst, flsn0, flsn1, frows):
                        continue
                    if not bloom_keep(fbloom):
                        continue
                    era = era_cache.get(sv)
                    if era is None:
                        era = snap.file_era(sv)
                        era_cache[sv] = era
                    by_era.setdefault(era, []).append(
                        os.path.join(self.path, p))
                    era_sv.setdefault(era, sv)
        else:
            for f in snap.files_for(buckets):
                if not ts_keep(f.min_ts, f.max_ts) \
                        or not key_keep(f.min_key, f.max_key):
                    continue
                if gen_active and not gen_keep(f.stats, f.min_lsn,
                                               f.max_lsn, f.rows):
                    continue
                if not bloom_keep(f.key_bloom):
                    continue
                era = snap.file_era(f.schema_v)
                by_era.setdefault(era, []).append(
                    os.path.join(self.path, f.path))
                era_sv.setdefault(era, f.schema_v)
        def ts_filter(df: DataFrame) -> DataFrame:
            # exact row-level bound on top of the file pruning (pushed to
            # the parquet scan, so row groups prune on the same stats)
            return self._row_range_filter(df, snap, ts_range=ts_range,
                                          key_range=key_range, where=where)

        if not by_era:
            return ts_filter(self.spark.createDataFrame([], snap.schema))
        if set(by_era) == {0}:
            # fast path (current-vintage files only — in particular every
            # table that never renamed/dropped): one scan, no Union
            return ts_filter(
                self.spark.read.schema(snap.schema).parquet(*by_era[0]))
        # era-grouped read: files written before a rename/drop carry the
        # then-current column names on disk; each era (files sharing a
        # column mapping — at most len(name_log)+1 groups) scans with its
        # vintage names and projects to the current schema, then the
        # groups union by name. Columns whose lineage terminates before
        # the file's vintage (added or re-added later) read as NULL —
        # a dropped-and-readded name never resurfaces stale values.
        parts: list[DataFrame] = []
        for era, paths in sorted(by_era.items()):
            if era == 0:
                parts.append(
                    self.spark.read.schema(snap.schema).parquet(*paths))
                continue
            sv = era_sv[era]          # same era ⇒ identical mapping
            read_fields: list[T.StructField] = []
            select_exprs = []
            for fld in snap.schema.fields:
                vn = snap.vintage_name(fld.name, sv)
                if vn is None:
                    select_exprs.append(
                        F.lit(None).cast(fld.dataType).alias(fld.name))
                else:
                    read_fields.append(
                        T.StructField(vn, fld.dataType, True))
                    select_exprs.append(F.col(vn).alias(fld.name))
            df = self.spark.read.schema(
                T.StructType(read_fields)).parquet(*paths)
            parts.append(df.select(*select_exprs))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return ts_filter(out)

    def _zorder_expr(self, probe: DataFrame, cols: list[str],
                     n_bins: int = 32):
        """Build the Z-ORDER clustering value for ``cols`` (Delta
        ``OPTIMIZE ZORDER BY`` / Iceberg z-order rewrite analog): each
        column maps to its approximate-quantile bin index (so skewed
        distributions still spread evenly — a linear min/max scaling
        would collapse under a hot time window), and the bin indices'
        bits INTERLEAVE into one integer. Range-partitioning files by
        that integer clusters rows so every z-order column's per-file
        min/max bounds become selective AT ONCE — a ts-range read and a
        secondary-column read both prune files of the same layout.

        Numeric / timestamp / date columns only: the bucket key (a
        string) is already clustered by bucketing + ``sort_by_key``.
        Boundary estimation is one ``approxQuantile`` pass over
        ``probe`` — maintenance-path cost, never the apply hot path."""
        bits = max(1, (int(n_bins) - 1).bit_length())
        ftypes = {f.name: f.dataType for f in probe.schema.fields}
        nums: list = []
        qcols: list[str] = []
        for c in cols:
            if c not in ftypes:
                raise ValueError(f"zorder column {c!r} not in schema")
            dt = ftypes[c]
            if isinstance(dt, T.TimestampType):
                nums.append(F.unix_micros(F.col(c)))
            elif isinstance(dt, T.DateType):
                nums.append(F.datediff(F.col(c), F.lit("1970-01-01")))
            elif isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                                 T.LongType, T.FloatType, T.DoubleType,
                                 T.DecimalType)):
                nums.append(F.col(c).cast("double"))
            else:
                raise ValueError(
                    f"zorder column {c!r} has type {dt.simpleString()}; "
                    "z-order supports numeric/timestamp/date columns "
                    "(the string bucket key is clustered by sort_by_key)")
            qcols.append(f"_q{len(qcols)}")
        qdf = probe.select(*[n.cast("double").alias(q)
                             for n, q in zip(nums, qcols)]).na.drop("any")
        probs = [i / n_bins for i in range(1, n_bins)]
        all_bounds = qdf.approxQuantile(qcols, probs, 0.01)
        z = F.lit(0).cast("long")
        k = len(cols)
        for j, (num, bounds) in enumerate(zip(nums, all_bounds)):
            bounds = sorted(set(bounds))       # skew dedupes bins: fine
            if not bounds:
                continue                       # empty/constant column
            arr = F.array(*[F.lit(float(b)) for b in bounds])
            idx = F.aggregate(
                arr, F.lit(0),
                lambda acc, b: acc + F.when(num.cast("double") > b, 1)
                                      .otherwise(0))
            for bit in range(bits):
                z = z.bitwiseOR(F.shiftleft(
                    F.shiftright(idx, bit).bitwiseAND(F.lit(1)).cast("long"),
                    bit * k + j))
        return z, f"z({','.join(cols)})"

    def compact(self, *, drop_tombstones: bool = True,
                write_salt: int = 0,
                buckets: set[int] | None = None,
                sort_by_key: bool = True,
                target_rows_per_file: int | None = None,
                zorder_by: list[str] | None = None) -> Snapshot:
        """Maintenance: rewrite files into a compacted set, optionally
        dropping tombstones (safe once no event older than the table's
        high-water mark can still arrive — the operator's call).

        ``buckets=None`` compacts the whole table. On a multi-version
        table (merge-on-read deltas pending) the full pass ALSO resolves
        last-writer-wins — one max-_lsn reduction per key — and the new
        snapshot is single-version again, so reads go back to plain scans.

        ``buckets={...}`` compacts ONLY those buckets' files — the
        incremental shape a fleet runs continuously (compact the K buckets
        with the most file fragments each cycle, never a full pass). It
        requires a single-version table: bucket-spanning MOR delta files
        hold rows of every bucket and can't be rewritten bucket-wise —
        run a full ``compact()`` first to fold them in.

        ``sort_by_key=True`` additionally clusters each rewritten file by
        the bucket key (Iceberg sort-order compaction): row-group min/max
        stats become selective, so point lookups skip row groups inside a
        bucket's files, not just whole files.

        ``target_rows_per_file`` bounds output FILE sizes (Iceberg's
        ``write.target-file-size`` analog): per-bucket row counts come
        from snapshot METADATA (no extra job) and size the fan-out so a
        hot bucket compacts to many bounded files instead of one multi-GB
        one, while small buckets stay single-file. With ``sort_by_key``
        (the default) the fan-out is a RANGE exchange on (bucket, key), so
        the files a bucket splits into carry DISJOINT ``min_key/max_key``
        ranges — a point lookup then opens one file of the bucket
        (``read(key_range=...)``); with ``sort_by_key=False`` it falls
        back to a hash fan-out (parallel, but overlapping ranges).

        ``zorder_by=[cols...]`` replaces the key sort with Z-ORDER
        clustering on the named numeric/timestamp columns (Delta
        ``OPTIMIZE ZORDER BY`` analog, see :meth:`_zorder_expr`): with
        ``target_rows_per_file`` the range exchange runs on the
        interleaved-bits z-value, so EVERY z-order column's per-file
        bounds become selective at once — a time-range read and a
        secondary-column ``where=`` read prune files of the same layout,
        where a single-column sort favors only its leading column.

        Time travel to pre-compaction snapshots still works (old files
        stay referenced by old metadata) until ``expire_snapshots``
        reclaims them."""
        snap = self.current()
        if buckets is not None and snap.multi_version:
            raise MultiVersionError(
                "bucket-scoped compaction requires a single-version table "
                "(pending merge-on-read deltas span buckets); run a full "
                "compact() first")
        df = self.read(buckets=buckets)
        pre_bucketed = False
        if snap.multi_version:
            from rockefeller_spark.cdc import dedupe_lww
            if (target_rows_per_file is None and not zorder_by
                    and not write_salt
                    and set(KEY_COLS) <= set(df.columns)):
                # Fused resolve+bucket (guide §2.4 — two ops keyed the
                # same way share one exchange): repartition by _bucket
                # and reduce max-_lsn per (bucket, key) in place, exactly
                # the apply path's shape. _bucket is a function of the
                # key, so the (bucket)-hash partitioning already
                # satisfies the aggregation's clustering AND is the
                # layout the bucketed write wants — one shuffle of the
                # table instead of two (the unfused form exchanges once
                # on the key for dedupe_lww and again on _bucket for the
                # write). The sized/z-ordered variants keep the unfused
                # form: their range exchange must run on resolved rows.
                rest = [c for c in df.columns if c not in KEY_COLS]
                w = F.struct(*[F.col(c) for c in rest])
                df = (df.withColumn("_bucket",
                                    bucket_expr(snap.bucket_col,
                                                snap.n_buckets))
                      .repartition(F.col("_bucket"))
                      .groupBy("_bucket", *KEY_COLS)
                      .agg(F.max_by(w, F.col("_lsn")).alias("_w"))
                      .select("_bucket", *KEY_COLS,
                              *[F.col(f"_w.{c}").alias(c) for c in rest]))
                pre_bucketed = True
            else:
                df = dedupe_lww(df, order_col="_lsn")
        if drop_tombstones and "_deleted" in df.columns:
            df = df.filter(~F.col("_deleted"))
        salt_counts: dict[int, int] | None = None
        if target_rows_per_file is not None:
            # per-bucket sizing from footer stats; bucket-spanning delta
            # rows (bucket unknown until rewrite) are attributed uniformly.
            # Full-table sizing walks the COLUMNAR view (no DataFile
            # objects — O(parse) driver cost at any file count).
            per_bucket: dict[int, int] = {}
            delta_rows = 0
            if buckets is None:
                for cols in snap.file_columns():
                    for b, r in zip(cols["bucket"], cols["rows"]):
                        if b is None:
                            delta_rows += r
                        else:
                            per_bucket[b] = per_bucket.get(b, 0) + r
            else:
                for f in snap.files_for(buckets):
                    if f.bucket is None:
                        delta_rows += f.rows
                    else:
                        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + f.rows
            spread = delta_rows // max(snap.n_buckets, 1)
            salt_counts = {
                b: max(1, -(-(r + spread) // target_rows_per_file))
                for b, r in per_bucket.items()}
        cluster_expr = None
        sort_cols = [snap.bucket_col] if sort_by_key else None
        if zorder_by:
            # boundary probe on the RAW pruned read (pre-LWW-resolve):
            # quantiles don't need the exact winner set, and probing the
            # resolved df would compute the reduction twice
            cluster_expr, zlabel = self._zorder_expr(
                self.read(buckets=buckets), list(zorder_by))
            sort_cols = [zlabel]
        adds = self._stage_write(
            df, snap.n_buckets, snap.bucket_col, write_salt,
            pre_bucketed=pre_bucketed,
            sort_cols=sort_cols,
            salt_counts=salt_counts,
            target_rows_per_file=target_rows_per_file,
            cluster_expr=cluster_expr)
        if buckets is None:
            remove = {p for cols in snap.file_columns()
                      for p in cols["path"]}
        else:
            bad = {f.bucket for f in adds} - buckets
            if bad:
                raise ValueError(
                    f"compaction produced rows outside the requested "
                    f"buckets {sorted(bad)}")
            remove = {f.path for f in snap.files_for(buckets)
                      if f.bucket is not None}
        return self.commit(adds, remove,
                           lineage={"op": "compact",
                                    "buckets": (sorted(buckets)
                                                if buckets else "all")},
                           expected_version=snap.snapshot_id,
                           multi_version=False if buckets is None else None)

    def rescale_buckets(self, new_n_buckets: int, *,
                        write_salt: int = 0) -> Snapshot:
        """Bucket-count evolution (Iceberg partition-spec evolution
        analog): rewrite the table into ``new_n_buckets`` key buckets in
        one atomic commit. This is the migration path when a table
        outgrows its layout — a count sized for 10^8 rows starves
        parallelism and pruning at 10^10 (each bucket 100× too big), and
        the bucket count is baked into every file's name and pruning
        stats, so growing it requires a rewrite.

        One full-table pass (the same cost class as a full compact):
        read → resolve pending MOR deltas if any → re-bucket → key-sorted
        write. Snapshots record their own ``n_buckets``, so time travel
        to pre-rescale snapshots keeps pruning correctly with the OLD
        count; every subsequent apply/lookup uses the new one. At fleet
        scale, run it bucket-range-at-a-time behind a maintenance window
        — or create tables with generous counts up front (buckets cost
        ~nothing while small: files stay one-per-bucket-per-batch only
        after data arrives)."""
        if new_n_buckets < 1:
            raise ValueError("new_n_buckets must be >= 1")
        snap = self.current()
        df = self.read()
        if snap.multi_version:
            from rockefeller_spark.cdc import dedupe_lww
            df = dedupe_lww(df, order_col="_lsn")
        adds = self._stage_write(df, new_n_buckets, snap.bucket_col,
                                 write_salt, sort_cols=[snap.bucket_col])
        return self.commit(adds,
                           {p for cols in snap.file_columns()
                            for p in cols["path"]},
                           lineage={"op": "rescale_buckets",
                                    "from": snap.n_buckets,
                                    "to": new_n_buckets},
                           expected_version=snap.snapshot_id,
                           multi_version=False,
                           new_n_buckets=new_n_buckets)

    @contextmanager
    def _maintenance_lock(self, timeout_s: float = 60.0,
                          stale_s: float = 3600.0):
        """Single-maintenance-writer mutex for operations that either
        DELETE files (``expire_snapshots``) or RE-REFERENCE old files
        (``rollback``). Without it, a rollback whose target fell outside
        the retention window can commit a snapshot pointing at files a
        concurrently-running expire just deleted. Normal commits (apply /
        compact / DML) never take the lock — they only add files and are
        serialized by optimistic versioning.

        Crash-safety without TOCTOU races: the lock file carries an
        OWNERSHIP TOKEN, and a lock older than ``stale_s`` (a dead
        holder's leftover) is broken by an atomic RENAME to a waiter-
        unique name — only the waiter whose rename succeeded deletes, so
        two waiters can never each remove a lock and both acquire (the
        plain-unlink break let the second remove delete the first
        winner's FRESH lock). Release verifies the token before
        unlinking, so a holder whose lock was stale-broken (it outlived
        ``stale_s``; the default is sized generously above any
        expire/rollback wall for exactly this reason) does not remove
        its successor's lock on the way out."""
        lock = os.path.join(self.meta_dir, MAINT_LOCK)
        token = uuid.uuid4().hex
        deadline = time.time() + timeout_s
        fd = -1
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, f"{token} {os.getpid()} {time.time()}".encode())
                # fd stays OPEN until release: ownership is then verified
                # by inode identity (fstat on our own fd vs stat on the
                # path) — no content re-read that could transiently fail
                # and leave our lock stranded until the stale window
                break
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(lock)
                except FileNotFoundError:
                    continue
                if age > stale_s:
                    broken = f"{lock}.broken-{token}"
                    try:
                        os.rename(lock, broken)   # atomic: one winner
                        os.remove(broken)
                    except FileNotFoundError:
                        pass                      # another waiter broke it
                    continue
                if time.time() > deadline:
                    raise TimeoutError(
                        f"maintenance lock {lock} held for {age:.0f}s; "
                        f"another expire/rollback in progress") from None
                time.sleep(0.05)
        try:
            yield
        finally:
            # still-owner check by inode: if a waiter stale-broke our lock
            # (rename + delete) the path is gone or holds the successor's
            # NEW file — a different inode — and we must not unlink it.
            try:
                mine = os.fstat(fd)
                cur = os.stat(lock)
                owner = (mine.st_dev, mine.st_ino) == (cur.st_dev, cur.st_ino)
            except OSError:
                owner = False
            os.close(fd)
            if owner:
                try:
                    os.remove(lock)
                except FileNotFoundError:
                    pass

    def rollback(self, snapshot_id: int) -> Snapshot:
        """Roll the table back to a previous snapshot's STATE as a new
        commit (Iceberg rollback semantics): the new snapshot adopts the
        target's manifest list verbatim (a metadata-only commit — zero
        manifest or data writes), its schema, bucket count — and its epoch
        ledger, so change batches committed after the target are
        re-appliable on redelivery (the CDC contract: rollback then
        replay). History is preserved; the rolled-back snapshots stay
        time-travelable until ``expire_snapshots`` reclaims them.

        Holds the maintenance lock: rollback re-references files that only
        OLD snapshots reference, which a concurrent ``expire_snapshots``
        would classify as reclaimable — the lock serializes the two (see
        :meth:`_maintenance_lock`)."""
        with self._maintenance_lock():
            base = self.current()
            target = self.snapshot(snapshot_id)
            snap = Snapshot(
                snapshot_id=base.snapshot_id + 1,
                parent_id=base.snapshot_id,
                schema=target.schema,
                n_buckets=target.n_buckets,
                bucket_col=target.bucket_col,
                committed_epochs=dict(target.committed_epochs),
                lineage={"op": "rollback", "to": snapshot_id},
                timestamp_ms=int(time.time() * 1000),
                multi_version=target.multi_version,
                manifests=(list(target.manifests)
                           if target.manifests is not None else None),
                loader=self._load_manifest,
                cols_loader=self._load_manifest_cols,
                name_log=list(target.name_log),
            )
            if snap.manifests is None:
                snap._files = list(target.files)
            self._write_snapshot(snap)
            return snap

    # ------------------------------------------------------- refs: tags
    _REF_DIR = os.path.join("metadata", "refs")
    _REF_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")

    def _ref_rel(self, name: str) -> str:
        return os.path.join(self._REF_DIR, f"t-{name}.json")

    def _check_ref_name(self, name: str) -> None:
        if not self._REF_NAME_RE.match(name or ""):
            raise ValueError(f"bad ref name {name!r} (alnum start, then "
                             "[A-Za-z0-9._-], max 128 chars)")

    def tag(self, name: str, snapshot_id: int | None = None,
            note: str | None = None) -> dict[str, Any]:
        """Create an immutable named ref to a snapshot (Iceberg tag):
        ``read("release-1")`` / ``snapshot("release-1")`` then time-travel
        to it by name, and ``expire_snapshots`` RETAINS the tagged
        snapshot (and its files) regardless of ``keep_last`` — the
        audit/repro pin. Tags are create-once: re-pointing requires
        ``drop_tag`` first, so a published name can never silently move.
        Tag state is O(1) metadata; nothing is copied."""
        self._main_only("tag")
        self._check_ref_name(name)
        if self.backend.exists(self._branch_rel(name)):
            raise ValueError(f"a branch named {name!r} exists; refs share "
                             "one namespace")
        sid = self.current_version() if snapshot_id is None else int(snapshot_id)
        self.snapshot(sid)                     # must exist (not expired)
        obj = {"name": name, "snapshot_id": sid,
               "created_ms": int(time.time() * 1000), "note": note}
        os.makedirs(os.path.join(self.path, self._REF_DIR), exist_ok=True)
        try:
            self.backend.put_if_absent(
                self._ref_rel(name), json.dumps(obj).encode())
        except FileExistsError:
            raise ValueError(f"tag {name!r} already exists (drop_tag first; "
                             "tags are immutable)") from None
        return obj

    def tags(self) -> dict[str, dict[str, Any]]:
        """All tags, by name."""
        d = os.path.join(self.path, self._REF_DIR)
        if not os.path.isdir(d):
            return {}
        out: dict[str, dict[str, Any]] = {}
        for fname in sorted(os.listdir(d)):
            if fname.startswith("t-") and fname.endswith(".json"):
                obj = _json_loads(self.backend.read(
                    os.path.join(self._REF_DIR, fname)))
                out[obj["name"]] = obj
        return out

    def drop_tag(self, name: str) -> None:
        self._check_ref_name(name)
        try:
            self.backend.delete(self._ref_rel(name))
        except FileNotFoundError:
            raise KeyError(f"no tag {name!r}") from None

    def resolve_ref(self, name: str) -> int:
        """Tag name -> snapshot id (``snapshot()``/``read()`` accept the
        name directly)."""
        self._check_ref_name(name)
        try:
            return int(_json_loads(
                self.backend.read(self._ref_rel(name)))["snapshot_id"])
        except FileNotFoundError:
            raise KeyError(f"no tag or branch {name!r}") from None

    # --------------------------------------------- refs: branches
    # A branch (Iceberg mutable named ref) holds any number of real
    # commits on its head — invisible to main readers — until one atomic
    # fast-forward publish folds the NET file delta onto main under the
    # disjoint-bucket rebase rule. A write-audit-publish stage is a
    # one-commit branch named by its wap_id (Iceberg runs WAP through
    # branches too). Branch snapshots are ordinary snapshot objects in a
    # per-branch namespace (``metadata/branches/<name>/v*.json``) forked
    # from the shared main prefix, so the two id sequences can never race
    # each other's conditional PUTs; the branch head is the same monotonic
    # pointer protocol as the table hint, just a different pointer object.
    _BRANCH_DIR = os.path.join("metadata", "branches")

    def _branch_rel(self, name: str) -> str:
        return os.path.join(self._REF_DIR, f"b-{name}.json")

    def _branch_head_rel(self, name: str) -> str:
        return os.path.join(self._REF_DIR, f"bh-{name}.text")

    def _branch_versions(self, name: str) -> list[int]:
        d = os.path.join(self.path, self._BRANCH_DIR, name)
        if not os.path.isdir(d):
            return []
        return sorted(int(f[1:9]) for f in os.listdir(d)
                      if f.startswith("v") and f.endswith(".json"))

    def _main_only(self, op: str) -> None:
        if self._branch is not None:
            raise ValueError(
                f"{op} must run on the main table handle, not the "
                f"branch handle {self._branch!r}")

    def create_branch(self, name: str, snapshot_id: int | None = None,
                      note: str | None = None, *,
                      _wap: dict[str, Any] | None = None) -> dict[str, Any]:
        """Fork a mutable named branch from a main snapshot (default: the
        current one). Write through :meth:`on_branch`; read by name
        (``read("audit")`` follows the branch head); publish to main with
        :meth:`publish_branch`. Create-once like tags; the name must not
        collide with a tag (one ref namespace, Iceberg's rule).
        ``expire_snapshots`` pins the fork-point snapshot and every file
        any branch commit references until the branch is dropped.
        (``_wap`` is the stage marker :meth:`stage_append` and
        :meth:`stage_overwrite_buckets` record in the ref object.)"""
        self._main_only("create_branch")
        self._check_ref_name(name)
        if self.backend.exists(self._ref_rel(name)):
            raise ValueError(f"a tag named {name!r} exists; refs share "
                             "one namespace")
        sid = (self.current_version() if snapshot_id is None
               else int(snapshot_id))
        self.snapshot(sid)                     # must exist (not expired)
        obj = {"name": name, "base": sid,
               "created_ms": int(time.time() * 1000), "note": note}
        if _wap is not None:
            obj["wap"] = _wap
        os.makedirs(os.path.join(self.path, self._REF_DIR), exist_ok=True)
        os.makedirs(os.path.join(self.path, self._BRANCH_DIR, name),
                    exist_ok=True)
        try:
            self.backend.put_if_absent(
                self._branch_rel(name), json.dumps(obj).encode())
        except FileExistsError:
            raise ValueError(f"branch {name!r} already exists") from None
        self.backend.advance_pointer(self._branch_head_rel(name), sid)
        return obj

    def branch_obj(self, name: str) -> dict[str, Any]:
        self._check_ref_name(name)
        try:
            obj = _json_loads(self.backend.read(self._branch_rel(name)))
        except FileNotFoundError:
            raise KeyError(f"no branch {name!r}") from None
        obj["head"] = self.backend.read_pointer(self._branch_head_rel(name))
        return obj

    def branches(self) -> dict[str, dict[str, Any]]:
        """All branches, by name (each with its current ``head``)."""
        d = os.path.join(self.path, self._REF_DIR)
        if not os.path.isdir(d):
            return {}
        out: dict[str, dict[str, Any]] = {}
        for fname in sorted(os.listdir(d)):
            if fname.startswith("b-") and fname.endswith(".json"):
                out[fname[2:-5]] = self.branch_obj(fname[2:-5])
        return out

    def on_branch(self, name: str) -> "LakeTable":
        """A handle bound to the branch: same table, same data/manifest
        store, but ``current()``/``commit()``/every write path route to
        the branch head — ``apply_batch``, ``append``, DML, ``compact``
        all work unchanged and stay INVISIBLE on main until
        :meth:`publish_branch`. Maintenance that reasons about global
        liveness (``expire_snapshots``) and ref/stage creation stay
        main-handle-only and raise here."""
        self._main_only("on_branch (branches do not nest)")
        b = self.branch_obj(name)              # KeyError if absent
        t = copy.copy(self)
        t._branch = name
        t._branch_base = int(b["base"])
        return t

    # the bytes of a drop's claim on a branch version slot (see
    # _drop_branch_at); no snapshot object ever holds them
    _DROP_CLAIM = b'{"dropped": true}'

    def drop_branch(self, name: str) -> None:
        """Delete the branch ref, head pointer and its snapshot objects.
        The branch's data files and manifests become unreferenced and age
        out through the next orphan sweep."""
        self._main_only("drop_branch")
        self._check_ref_name(name)
        if not self.backend.exists(self._branch_rel(name)):
            raise KeyError(f"no branch {name!r}")
        # the ref goes first: a branch commit whose PUT lands after this
        # finds no ref and withdraws (see _write_snapshot)
        self.backend.delete(self._branch_rel(name))
        for v in self._branch_versions(name):
            rel = os.path.join(self._BRANCH_DIR, name, f"v{v:08d}.json")
            try:
                self.backend.delete(rel)
            except FileNotFoundError:
                pass
        try:
            self.backend.delete(self._branch_head_rel(name))
        except FileNotFoundError:
            pass
        try:    # one directory per branch: a WAP stream stages every batch
            os.rmdir(os.path.join(self.path, self._BRANCH_DIR, name))
        except OSError:
            pass

    def _drop_branch_at(self, name: str, head: int) -> bool:
        """Drop the branch only while its head is ``head``: first claim,
        by conditional PUT, the version slot the next branch commit would
        take. A commit that took the slot first keeps the branch (returns
        False); one that comes later loses its PUT with
        :class:`CommitConflictError`. Finding its own claim, a drop
        interrupted by a crash resumes."""
        claim = os.path.join(self._BRANCH_DIR, name, f"v{head + 1:08d}.json")
        try:
            self.backend.put_if_absent(claim, self._DROP_CLAIM)
        except FileExistsError:
            if self.backend.read(claim) != self._DROP_CLAIM:
                return False
        self.drop_branch(name)
        return True

    def publish_branch(self, name: str, *, drop: bool = True,
                       max_races: int = 3) -> Snapshot:
        """Atomically fast-forward main to the branch: ONE commit carrying
        the branch's net file delta (adds + removes since the fork point),
        with the branch commits' epoch ledger merged in so exactly-once
        survives the publish. If main moved since the fork, the publish
        REBASES: every intervening main commit must touch only buckets
        DISJOINT from everything the branch touched, with no schema/
        layout/name-log drift on either side; otherwise
        :class:`CommitConflictError` (re-branch from fresh state). A
        branch-side ADDITIVE schema evolution publishes only onto unmoved
        main (true fast-forward). ``drop`` (default) deletes the branch
        after the publish — its snapshots' purpose (audit before
        visibility) is served — but only while its head is still the one
        published (:meth:`_drop_branch_at`); a branch commit racing the
        publish keeps the branch, which can be published again.

        Idempotent: a replayed publish (crash between the main commit and
        the drop) finds the published snapshot by lineage, drops the
        branch and returns it. A WAP branch (``stage_*``) publishes with
        lineage ``wap_id`` / ``staged_base``; when main's epoch ledger
        already holds the stage's ``(stream_id, epoch)`` it commits
        nothing and returns main's current snapshot."""
        self._main_only("publish_branch")
        bh = self.on_branch(name)
        wap = self.branch_obj(name).get("wap")
        head = bh.current()
        base_id = int(bh._branch_base)
        if head.snapshot_id == base_id:
            raise ValueError(f"branch {name!r} has no commits to publish")
        try:
            base = self.snapshot(base_id)
        except ValueError:
            raise CommitConflictError(
                f"branch fork point v{base_id} expired; re-branch") from None
        if head.name_log != base.name_log:
            raise CommitConflictError(
                "branch renamed/dropped columns; the name log's version "
                "stamps are branch-local and cannot graft onto main — "
                "apply the rename on main instead")
        if head.n_buckets != base.n_buckets:
            raise CommitConflictError("branch rescaled buckets; re-apply "
                                      "the rescale on main")
        adds, removed = _file_diff(base, head)
        touched = _touched_buckets(adds + removed)
        lineage = {"op": "branch_publish", "branch": name,
                   "branch_head": head.snapshot_id, "branch_base": base_id}
        if wap is not None:
            lineage = {**head.lineage, **lineage, "op": "wap_publish",
                       "wap_id": name, "staged_base": base_id}
        for _ in range(max(1, max_races)):
            cur = self.current()
            if wap is not None and wap["stream_id"] is not None \
                    and wap["epoch"] is not None \
                    and cur.committed_epochs.get(wap["stream_id"], -1) \
                    >= wap["epoch"]:
                published = cur                # the stage's epoch is on main
            else:
                published = next(
                    (s for s in reversed(self.history())
                     if s.lineage.get("branch") == name
                     and s.lineage.get("branch_head") == head.snapshot_id),
                    None)
            if published is not None:          # crash-replayed publish
                if drop:
                    self._drop_branch_at(name, head.snapshot_id)
                return published
            new_schema = None
            if cur.snapshot_id != base_id:
                if head.schema != base.schema:
                    raise CommitConflictError(
                        "branch evolved the schema and main moved since "
                        "the fork; re-branch and re-apply")
                if cur.n_buckets != base.n_buckets \
                        or cur.schema != base.schema \
                        or cur.name_log != base.name_log:
                    raise CommitConflictError(
                        "main layout/schema evolved since the fork; "
                        "re-branch from fresh state")
                diff = changed_buckets(base, cur)
                if diff is None or touched is None or diff & touched:
                    raise CommitConflictError(
                        "intervening main commits overlap the branch's "
                        "buckets; re-branch from fresh state")
            elif head.schema != base.schema:
                new_schema = head.schema
            # the removes apply against CUR: the disjointness rule above
            # guarantees every branch-removed file is untouched there
            # (intervening commits never touched the branch's buckets, and
            # expiry can't reclaim files cur references), so no O(table)
            # re-validation pass is needed
            try:
                snap = self.commit(
                    adds, {f.path for f in removed},
                    new_schema=new_schema,
                    multi_version=head.multi_version or cur.multi_version,
                    merge_epochs=dict(head.committed_epochs),
                    lineage=lineage,
                    expected_version=cur.snapshot_id)
            except CommitConflictError:
                continue                       # racing writer; revalidate
            if drop and not self._drop_branch_at(name, head.snapshot_id):
                logger.warning(
                    "branch %r advanced past the published head "
                    "v%d during publish; keeping the branch",
                    name, head.snapshot_id)
            return snap
        raise CommitConflictError(
            f"publish of branch {name!r} lost {max_races} commit races")

    # ------------------------------------- write-audit-publish (staged)
    # A stage is a branch named by its wap_id that holds one commit; the
    # ref object's "wap" marker (kind, stream_id, epoch) tells it apart
    # from ordinary branches.
    def _stage(self, kind: str, df: DataFrame, buckets: "set[int] | None",
               wap_id: str | None, write_salt: int, stream_id: str | None,
               epoch: int | None, lineage: dict[str, Any] | None,
               note: str | None) -> str:
        self._main_only(f"stage_{kind}")
        wap_id = wap_id or uuid.uuid4().hex[:16]
        snap = self.current()
        adds = self._stage_write(df, snap.n_buckets, snap.bucket_col,
                                 write_salt)
        remove: set[str] = set()
        if buckets is not None:
            bad = {f.bucket for f in adds} - set(buckets)
            if bad:
                raise ValueError(
                    f"staged df contains untouched buckets {sorted(bad)}")
            remove = {f.path for f in snap.files_for(set(buckets))
                      if f.bucket is not None}
        self.create_branch(wap_id, snap.snapshot_id, note,
                           _wap={"kind": kind, "stream_id": stream_id,
                                 "epoch": epoch})
        self.on_branch(wap_id).commit(adds, remove, stream_id=stream_id,
                                      epoch=epoch, lineage=lineage)
        return wap_id

    def stage_append(self, df: DataFrame, *, wap_id: str | None = None,
                     write_salt: int = 0, stream_id: str | None = None,
                     epoch: int | None = None,
                     lineage: dict[str, Any] | None = None,
                     note: str | None = None) -> str:
        """Write-audit-publish, append shape (Iceberg stage-only commit /
        ``spark.wap.id``): the data files are fully written and committed
        as the one commit of a branch named ``wap_id`` (default: a fresh
        id; it shares the ref namespace with tags and branches), but the
        table's current pointer DOES NOT MOVE — readers cannot see the
        rows. Audit via :meth:`read_staged` (plus any checks — row
        counts, quarantine rates, fsck), then :meth:`publish_staged`
        makes it visible atomically, or :meth:`abandon_staged` discards
        it (files are reclaimed by the orphan sweep). Staging costs the
        write plus one covering-shard commit; audit and publish are
        metadata-side."""
        return self._stage("append", df, None, wap_id, write_salt,
                           stream_id, epoch, lineage, note)

    def stage_overwrite_buckets(self, df: DataFrame, buckets: set[int], *,
                                wap_id: str | None = None,
                                write_salt: int = 0,
                                stream_id: str | None = None,
                                epoch: int | None = None,
                                lineage: dict[str, Any] | None = None,
                                note: str | None = None) -> str:
        """Write-audit-publish, copy-on-write shape: stage a replacement
        of exactly ``buckets``. The publish rebases over commits to
        disjoint buckets like any branch publish, so the stage's removes
        — the staged base's files of ``buckets``, untouched on main under
        that rule — replace the right files."""
        return self._stage("overwrite", df, buckets, wap_id, write_salt,
                           stream_id, epoch, lineage, note)

    def staged(self) -> dict[str, dict[str, Any]]:
        """Pending staged commits, by wap_id: each WAP branch's ref
        (``base``, ``note``, ``created_ms``, ``head``), its marker
        (``kind``, ``stream_id``, ``epoch``) and the net ``adds`` /
        ``rows_added`` of its commit — O(changed manifest shards) per
        stage."""
        out: dict[str, dict[str, Any]] = {}
        for name, b in self.branches().items():
            if "wap" in b:
                adds, _ = _file_diff(self.snapshot(int(b["base"])),
                                    self.snapshot(name))
                out[name] = {**b, **b["wap"],
                             "adds": [f.to_json() for f in adds],
                             "rows_added": sum(f.rows or 0 for f in adds)}
        return out

    def read_staged(self, wap_id: str, *, raw: bool = False,
                    staged_only: bool = False, **read_kw) -> DataFrame:
        """Audit read of a staged commit: the table state as it WOULD be
        after publish — LWW-resolved, tombstones dropped, engine columns
        hidden — without the current pointer ever moving. ``raw=True``
        returns the unresolved stored rows instead. Accepts the same
        pruning kwargs as :meth:`read` (buckets/ts_range/key_range/
        where).

        ``staged_only=True`` reads JUST the staged files — the "what am
        I about to publish" audit (row counts, quality gates, quarantine
        rates over the new rows alone): the branch's net adds
        (:func:`_file_diff` of base and head). Planning loads
        only the manifest shards the stage changed — O(changed manifest
        shards), not O(adds) and not O(table)."""
        bh = self.on_branch(wap_id)
        snap = bh.current()
        if staged_only:
            adds, _ = _file_diff(self.snapshot(bh._branch_base), snap)
            snap = Snapshot(
                snapshot_id=snap.snapshot_id, parent_id=snap.parent_id,
                schema=snap.schema, n_buckets=snap.n_buckets,
                bucket_col=snap.bucket_col, files=adds,
                committed_epochs={}, timestamp_ms=snap.timestamp_ms,
                multi_version=snap.multi_version,
                name_log=list(snap.name_log))
        if raw:
            return self.read(_snap=snap, **read_kw)
        if snap.multi_version:
            # On a multi-version snapshot the pruning kwargs split by
            # whether the predicate is a function of the DEDUPE KEY:
            # buckets/key_range are (every version of a key shares its
            # key, so file pruning + row filters commute with the LWW
            # resolve), but ts_range/where look at version-varying
            # columns — applied BEFORE the resolve they can resurrect a
            # superseded version (old version in range, newer one pruned
            # out) — so those run as exact row filters AFTER dedupe_lww,
            # mirroring merge.read_state. Bucket-spanning delta rows are
            # additionally row-filtered to the requested buckets (file
            # pruning alone cannot exclude their other-bucket rows).
            unknown = set(read_kw) - {"buckets", "ts_range", "key_range",
                                      "where"}
            if unknown:
                raise ValueError(f"read_staged: unsupported kwargs on a "
                                 f"multi-version stage: {sorted(unknown)}")
            buckets = read_kw.get("buckets")
            df = self.read(_snap=snap, buckets=buckets,
                           key_range=read_kw.get("key_range"))
            if buckets is not None:
                df = df.filter(bucket_expr(snap.bucket_col, snap.n_buckets)
                               .isin(sorted(buckets)))
            from rockefeller_spark.cdc import dedupe_lww
            df = dedupe_lww(df, order_col="_lsn")
            df = self._row_range_filter(df, snap,
                                        ts_range=read_kw.get("ts_range"),
                                        where=read_kw.get("where"))
        else:
            df = self.read(_snap=snap, **read_kw)
        from rockefeller_spark import schema as S
        user_cols = [f.name for f in snap.schema.fields
                     if f.name not in S.META_COLS]
        return df.filter(~F.col("_deleted")).select(*user_cols)

    def _row_range_filter(self, df: DataFrame, snap: "Snapshot", *,
                          ts_range: "tuple | None" = None,
                          key_range: "tuple | None" = None,
                          where: "dict[str, tuple] | None" = None) \
            -> DataFrame:
        """Exact row-level closed-range filters with :meth:`read`'s
        semantics but NO file pruning — :meth:`read` applies these on top
        of its file pruning, and :meth:`read_staged` AFTER LWW resolution
        on multi-version snapshots, where a version-sensitive filter
        evaluated pre-dedupe would be wrong."""
        ftypes = {f.name: f.dataType for f in snap.schema.fields}

        def rng(col: str, lo, hi, is_ts: bool) -> None:
            nonlocal df
            if is_ts:
                if lo is not None:
                    df = df.filter(F.col(col) >= F.timestamp_micros(
                        F.lit(self._ts_micros(lo))))
                if hi is not None:
                    df = df.filter(F.col(col) <= F.timestamp_micros(
                        F.lit(self._ts_micros(hi))))
            else:
                if lo is not None:
                    df = df.filter(F.col(col) >= F.lit(lo))
                if hi is not None:
                    df = df.filter(F.col(col) <= F.lit(hi))

        if ts_range is not None:
            if where and "ts" in where:
                raise ValueError("pass ts bounds via ts_range or "
                                 "where['ts'], not both")
            rng("ts", ts_range[0], ts_range[1], True)
        if key_range is not None:
            rng(snap.bucket_col, key_range[0], key_range[1], False)
        for c, (lo, hi) in (where or {}).items():
            if lo is None and hi is None:
                continue
            if c == "ts":
                rng("ts", lo, hi, True)
            elif c == "_lsn" or c == snap.bucket_col:
                rng(c, lo, hi, False)
            else:
                if c not in ftypes:
                    raise ValueError(f"where column {c!r} is not in the "
                                     "table schema")
                rng(c, lo, hi, isinstance(ftypes[c], T.TimestampType))
        return df

    def publish_staged(self, wap_id: str, *, max_races: int = 3) -> Snapshot:
        """Atomically make a staged commit visible: :meth:`publish_branch`
        of its branch — the same disjoint-bucket rebase, idempotent
        replay and exactly-once epoch check — and the branch is dropped."""
        return self.publish_branch(wap_id, max_races=max_races)

    def abandon_staged(self, wap_id: str) -> None:
        """Discard a staged commit: drop its branch (a no-op when there
        is none). Its data files become orphans and are reclaimed by the
        next orphan sweep past the grace window."""
        try:
            if "wap" in self.branch_obj(wap_id):
                self.drop_branch(wap_id)
        except KeyError:
            pass

    def lookup(self, key_value: str) -> DataFrame:
        """Point lookup: hash the key to its bucket DRIVER-SIDE (pure-
        Python xxhash64 — no 1-row Spark job; pinned equal to
        ``bucket_expr`` by test), read ONLY that bucket's files (plus any
        pending bucket-spanning MOR deltas), and filter — at 10^10 rows a
        lookup touches 1/n_buckets of the table, not a full scan, and
        issues exactly ONE Spark job (the pruned read). The residual
        filter also reaches the parquet scan (PushedFilters), pruning row
        groups inside the bucket's files. Within the bucket, per-file
        ``min_key``/``max_key`` bounds prune FILES first: after a
        key-sorted compaction split the bucket into size-targeted files,
        the lookup opens one file, not the whole bucket."""
        snap = self.current()
        b = key_bucket(key_value, snap.n_buckets)
        return (self.read(buckets={b}, key_range=(key_value, key_value))
                .filter(F.col(snap.bucket_col) == key_value))

    def lookup_many(self, keys: "list[str]") -> DataFrame:
        """Batched point lookup: N keys in ONE Spark job (the "fetch
        these conversations" shape — N separate :meth:`lookup` calls
        would plan and launch N jobs). Keys hash to their buckets
        driver-side; only covering manifest shards load; each candidate
        file is kept only if SOME key of its bucket group fits its
        ``min_key``/``max_key`` bounds (bucket-spanning deltas: any key
        of an annotated bucket, bloom-checked per key), then one pruned
        scan applies the pushed ``IN`` filter. Driver cost is
        O(covering shards + kept files × keys-in-bucket); scan cost is
        the kept files only."""
        keys = sorted(set(keys))
        if not keys:
            return self.spark.createDataFrame([], self.current().schema)
        snap = self.current()
        by_bucket: dict[int, list[str]] = {}
        for k in keys:
            by_bucket.setdefault(key_bucket(k, snap.n_buckets), []).append(k)
        buckets = set(by_bucket)

        def keep(f: DataFile) -> bool:
            if f.bucket is not None:
                cands = by_bucket.get(f.bucket, ())
            else:
                cands = [k for b in (f.buckets if f.buckets is not None
                                     else by_bucket) if b in by_bucket
                         for k in by_bucket[b]]
            for k in cands:
                if f.min_key is not None and k < f.min_key:
                    continue
                if f.max_key is not None and k > f.max_key:
                    continue
                if f.key_bloom is not None and \
                        not bloom_might_contain(f.key_bloom, k):
                    continue
                return True
            return False

        kept = [f for f in snap.files_for(buckets) if keep(f)]
        sub = Snapshot(
            snapshot_id=snap.snapshot_id, parent_id=snap.parent_id,
            schema=snap.schema, n_buckets=snap.n_buckets,
            bucket_col=snap.bucket_col, files=kept,
            committed_epochs=dict(snap.committed_epochs),
            timestamp_ms=snap.timestamp_ms,
            multi_version=snap.multi_version,
            name_log=list(snap.name_log))
        return (self.read(_snap=sub)
                .filter(F.col(snap.bucket_col).isin(keys)))

    def expire_snapshots(self, keep_last: int = 2, *,
                         clean_orphans: bool = True,
                         orphan_grace_s: float = 3600.0,
                         staged_ttl_s: float = 86400.0,
                         dry_run: bool = False) -> dict[str, Any]:
        """Maintenance: expire old snapshots and physically delete data
        files no retained snapshot references (Iceberg's ``expireSnapshots``
        + ``removeOrphanFiles`` analog). Without this, streaming cadence —
        one snapshot per micro-batch — grows metadata and dead files
        without bound even though ``compact`` logically supersedes them.

        Keeps the most recent ``keep_last`` snapshots (always including the
        current one): their time travel keeps working; reads of expired
        versions raise cleanly.

        **Cost shape (Iceberg's expireSnapshots-vs-removeOrphanFiles
        split).** The EXPIRY itself is O(churn), not O(table): the
        candidate set is the files in manifest shards referenced only by
        expired snapshots (untouched shards are shared by path with a
        retained snapshot and are skipped without I/O), and each candidate
        is liveness-checked only against the retained snapshots' COVERING
        shards for its bucket. At streaming cadence — expire one snapshot
        per micro-batch — that is the files of the commits aging out,
        independent of table size. ``clean_orphans`` additionally runs the
        FULL-LISTING orphan sweep (``.stage-*`` dirs, committed-by-no-one
        data files and manifests), which is inherently O(table listing) —
        the streaming policy rate-limits it
        (``CompactionPolicy.orphan_sweep_every_s``) instead of paying it
        every batch.

        Safety against a CONCURRENT in-flight commit (apply/compact that
        has moved new files into data/ but not yet swapped the hint): those
        files are referenced by no snapshot yet, so they'd look identical
        to crash orphans. Two classes are therefore distinguished:

        - files referenced by an *expired* snapshot were committed in the
          past and no pending commit re-adds an existing file → deleted
          immediately;
        - files referenced by NO on-disk snapshot (true orphans) and
          ``.stage-*`` dirs are deleted only when older than
          ``orphan_grace_s`` seconds (Iceberg ``removeOrphanFiles``'s
          ``olderThan``) — an in-flight commit finishes well inside the
          grace window, a crash leftover ages past it.

        The current snapshot chain is never touched (``keep_last`` is
        floored at 1) and the retained set is computed from on-disk
        metadata before any deletion. Runs under the maintenance lock so a
        concurrent ``rollback`` (which RE-references old files, including
        via adopted manifest lists — the liveness check covers that
        because it consults every retained snapshot's manifests) cannot
        interleave with the delete pass (see :meth:`_maintenance_lock`).
        Returns deletion stats."""
        self._main_only("expire_snapshots")
        keep_last = max(int(keep_last), 1)
        now = time.time()
        with self._maintenance_lock():
            current = self.current_version()
            history = self.history()
            # refs pin snapshots past the keep_last window: tagged
            # snapshots stay time-travelable by name
            pinned: set[int] = {t["snapshot_id"] for t in self.tags().values()}
            # branches pin their FORK POINT on main (the publish rebase
            # needs it loadable) and every branch-namespace snapshot is
            # retained outright — branch snapshot objects live outside
            # meta_dir so main expiry never lists them, but their FILES
            # must stay alive until the branch is dropped, so they join
            # the liveness set below. A staged commit (WAP branch) older
            # than staged_ttl_s is abandoned-by-policy and dropped; its
            # data files then age out through the orphan sweep.
            branch_snaps: list[Snapshot] = []
            staged_reaped = 0
            for bname, bobj in self.branches().items():
                if "wap" in bobj and \
                        now - bobj["created_ms"] / 1000.0 > staged_ttl_s:
                    if not dry_run:
                        self.drop_branch(bname)
                    staged_reaped += 1
                    continue
                pinned.add(int(bobj["base"]))
                bh = self.on_branch(bname)
                branch_snaps.extend(
                    bh.snapshot(v) for v in self._branch_versions(bname))
            retained = [s for s in history
                        if s.snapshot_id > current - keep_last
                        or s.snapshot_id in pinned] + branch_snaps
            retained_manifests = {e.path for s in retained
                                  for e in (s.manifests or [])}
            expired = [s for s in history
                       if s.snapshot_id <= current - keep_last
                       and s.snapshot_id not in pinned]

            # --- expiry fast path: candidates from expired-ONLY shards ---
            expired_only: dict[str, ManifestEntry] = {}
            for s in expired:
                for e in (s.manifests or []):
                    if e.path not in retained_manifests:
                        expired_only[e.path] = e

            member_memo: dict[str, set[str]] = {}
            # per retained snapshot: range entries sorted by lo (bisect
            # finds the covering shard in O(log n_shards) — a linear
            # entry scan per candidate was measured 6x the whole expire
            # wall at 10^7 files) + its delta shards
            ranged: list[tuple[list[int], list[ManifestEntry],
                               list[ManifestEntry]]] = []
            for s in retained:
                res = sorted((e for e in (s.manifests or [])
                              if e.lo is not None), key=lambda e: e.lo)
                ranged.append(([e.lo for e in res], res,
                               [e for e in (s.manifests or [])
                                if e.lo is None]))

            def _member(e: ManifestEntry, path: str) -> bool:
                ms = member_memo.get(e.path)
                if ms is None:
                    ms = set(self._load_manifest_cols(e.path)["path"])
                    member_memo[e.path] = ms
                return path in ms

            def alive(path: str, bucket: int | None) -> bool:
                """Is this file referenced by ANY retained snapshot? A
                bucketed file can only live in a shard covering its
                bucket, so only that shard (plus delta shards for delta
                files) is consulted — loads are cached and shared."""
                for los, res, deltas in ranged:
                    if bucket is None:
                        if any(_member(e, path) for e in deltas):
                            return True
                        continue
                    i = bisect.bisect_right(los, bucket) - 1
                    if i >= 0 and res[i].covers(bucket) \
                            and _member(res[i], path):
                        return True
                return False

            deleted_files = 0
            freed_bytes = 0
            reclaimed: set[str] = set()    # so the sweep won't recount
            seen: set[str] = set()
            for e in expired_only.values():
                cols = self._load_manifest_cols(e.path)
                for path, bucket in zip(cols["path"], cols["bucket"]):
                    if path in seen:
                        continue
                    seen.add(path)
                    if alive(path, bucket):
                        continue
                    full = os.path.join(self.path, path)
                    try:
                        freed_bytes += os.path.getsize(full)
                        if not dry_run:
                            os.remove(full)
                        reclaimed.add(path)
                        deleted_files += 1
                    except FileNotFoundError:
                        pass

            expired_meta = 0
            for s in expired:
                if not dry_run:
                    self.backend.delete(self._meta_rel(s.snapshot_id))
                expired_meta += 1

            deleted_manifests = 0
            for rel in expired_only:
                try:
                    if not dry_run:
                        self.backend.delete(rel)
                    elif not self.backend.exists(rel):
                        raise FileNotFoundError(rel)
                    deleted_manifests += 1
                except FileNotFoundError:
                    pass
                if not dry_run:
                    self._manifest_cache.pop(rel, None)

            # --- orphan sweep (full listing; opt-in / rate-limited) ---
            orphan_dirs = 0
            if clean_orphans:
                # reference set from COLUMNS, one parse per distinct shard
                # across all retained snapshots (shared shards dedup by
                # path) — no DataFile objects for this path-only consumer
                referenced: set[str] = set()
                for s in retained:
                    if s.manifests is None:   # materialized-only snapshot
                        referenced.update(f.path for f in s.files)
                for rel in retained_manifests:
                    referenced.update(self._load_manifest_cols(rel)["path"])
                for fname in os.listdir(self.data_dir):
                    rel = os.path.join("data", fname)
                    if rel in referenced or rel in reclaimed:
                        continue
                    full = os.path.join(self.data_dir, fname)
                    # true orphan: possibly an in-flight commit's staged-in
                    # file — only reclaim once it has aged past the grace
                    try:
                        if now - os.path.getmtime(full) < orphan_grace_s:
                            continue
                        freed_bytes += os.path.getsize(full)
                        if not dry_run:
                            os.remove(full)
                        deleted_files += 1
                    except FileNotFoundError:
                        continue
                for fname in os.listdir(self.meta_dir):
                    if not (fname.startswith("m-") and fname.endswith(".json")):
                        continue
                    rel = os.path.join("metadata", fname)
                    if rel in retained_manifests:
                        continue
                    full = os.path.join(self.meta_dir, fname)
                    try:
                        if now - os.path.getmtime(full) < orphan_grace_s:
                            continue
                        if not dry_run:
                            self.backend.delete(rel)
                    except FileNotFoundError:
                        continue
                    if not dry_run:
                        self._manifest_cache.pop(rel, None)
                    deleted_manifests += 1
                for d in os.listdir(self.path):
                    if not d.startswith(".stage-"):
                        continue
                    full = os.path.join(self.path, d)
                    try:
                        if now - os.path.getmtime(full) < orphan_grace_s:
                            continue
                    except FileNotFoundError:
                        continue
                    if not dry_run:
                        shutil.rmtree(full, ignore_errors=True)
                    orphan_dirs += 1

            return {"expired_snapshots": expired_meta,
                    "deleted_files": deleted_files,
                    "deleted_manifests": deleted_manifests,
                    "freed_bytes": freed_bytes,
                    "orphan_dirs_removed": orphan_dirs,
                    "orphan_sweep": clean_orphans,
                    "dry_run": dry_run,
                    "pinned": sorted(pinned),
                    "staged_reaped": staged_reaped,
                    "retained": [s.snapshot_id for s in retained]}

    def stats(self) -> dict[str, Any]:
        """Table statistics from the MANIFEST LIST alone — zero manifest
        (and zero data) loads on a sharded table, O(n_shards) driver
        work at any file count (the entries carry per-shard n_files /
        rows / lsn aggregates). Every ``delete_where``/``update_where``
        calls this for its high-water LSN, so it must stay metadata-flat."""
        snap = self.current()
        if snap.manifests is not None and snap._files is None:
            return {
                "snapshot_id": snap.snapshot_id,
                "n_files": sum(e.n_files for e in snap.manifests),
                "rows": sum(e.rows for e in snap.manifests),
                "n_buckets": snap.n_buckets,
                "max_lsn": max((e.max_lsn for e in snap.manifests
                                if e.max_lsn is not None), default=None),
            }
        return {
            "snapshot_id": snap.snapshot_id,
            "n_files": len(snap.files),
            "rows": sum(f.rows for f in snap.files),
            "n_buckets": snap.n_buckets,
            "max_lsn": max((f.max_lsn for f in snap.files
                            if f.max_lsn is not None), default=None),
        }

    def describe(self) -> dict[str, Any]:
        """One-call operator summary (the ``DESCRIBE TABLE EXTENDED``
        analog): layout, size aggregates, schema-evolution state, refs,
        pending staged commits, retained history. Metadata-flat — the
        same manifest-list aggregates :meth:`stats` uses, plus O(refs +
        retained snapshots) small reads and each pending stage's changed
        manifest shards (:meth:`staged`); no data loads."""
        snap = self.current()
        st = self.stats()
        return {
            **st,
            "path": self.path,
            "bucket_col": snap.bucket_col,
            "schema": snap.schema.simpleString(),
            "multi_version": snap.multi_version,
            "committed_epochs": dict(snap.committed_epochs),
            "name_log_entries": len(snap.name_log),
            "tags": {n: t["snapshot_id"] for n, t in self.tags().items()},
            "staged": {w: {"kind": s["kind"], "base": s["base"],
                           "rows_added": s["rows_added"]}
                       for w, s in self.staged().items()},
            "retained_snapshots": [s.snapshot_id for s in self.history()],
            "backend": type(self.backend).__name__,
        }

    def applied_lsns(self, buckets: set[int] | None = None) -> DataFrame:
        """Dedup-state view (FIXTURES.md §4): per-bucket high-water mark of
        applied LSNs, derived from file stats — the engine's durable
        ``applied_lsns(part_key, max_lsn, epoch)`` table. Bucket-spanning
        MOR delta files are excluded, so the marks are a LOWER bound while
        deltas are pending — safe for the prefilter (it only ever drops
        events at or below a mark; a lower bound drops fewer). ``buckets``
        restricts the view to the named buckets AND loads only their
        covering manifest shards — the shape a per-batch prefilter wants
        (marks for the batch's touched buckets, O(covering shards)
        metadata, not O(table))."""
        snap = self.current()
        hwm: dict[int, int] = {}
        for f in snap.files_for(buckets):
            if f.bucket is not None and f.max_lsn is not None:
                hwm[f.bucket] = max(hwm.get(f.bucket, -1), f.max_lsn)
        rows = [(str(b), lsn, snap.snapshot_id) for b, lsn in sorted(hwm.items())]
        schema = T.StructType([
            T.StructField("part_key", T.StringType(), False),
            T.StructField("max_lsn", T.LongType(), False),
            T.StructField("epoch", T.LongType(), False),
        ])
        return self.spark.createDataFrame(rows, schema)
