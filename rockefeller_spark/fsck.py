"""Table integrity checker — ``fsck`` for the lake format.

A production ingest pipeline needs a way to ASSERT a table is healthy
(after an incident, before a migration, on a maintenance cadence), not
just hope the invariants the writers maintain still hold. ``check_table``
walks the metadata the same way the readers do — manifest-list
aggregates first, columnar shard views for anything per-file — so its
cost profile matches read planning (O(shards) driver work + one windowed
pass over manifest bytes), not O(files) object construction; the deep
variant cross-checks parquet footers for a bounded sample of files.

Invariants checked (each maps to a writer-side guarantee):

- the version pointer resolves and the snapshot parses (commit protocol);
- live manifest bucket ranges are pairwise disjoint and inside
  ``[0, n_buckets)`` (``_rebuild_manifests``);
- manifest-list aggregates (``n_files``, ``rows``) match their shard's
  actual contents (constant-encoding / threaded-load corruption);
- every referenced data file exists with non-zero size (GC raced a
  reader, manual deletion);
- per-file bounds are sane: ``min <= max`` for lsn/ts/key, ``rows >= 0``,
  ``bucket`` (or the MOR ``buckets`` annotation) inside range,
  ``schema_v <= snapshot_id`` (stage-time stamping);
- the epoch ledger's values are sane and the snapshot chain's
  ``parent_id`` links backwards correctly (epoch gate / time travel);
- [deep] footer row counts and lsn bounds match the stamped metadata for
  a sample of files (stat stamping).

Findings are structured (level/code/detail) so a maintenance job can page
on ``errors`` and log ``warnings``; nothing here mutates the table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from rockefeller_spark.lake import LakeTable, Snapshot

_LEVELS = ("error", "warning", "info")


@dataclass
class Finding:
    level: str          # 'error' (invariant broken) | 'warning' | 'info'
    code: str           # stable machine key, e.g. 'missing-data-file'
    detail: str

    def __post_init__(self) -> None:
        assert self.level in _LEVELS


@dataclass
class FsckReport:
    snapshot_id: int | None = None
    files_seen: int = 0
    rows_seen: int = 0
    shards_seen: int = 0
    footers_checked: int = 0
    findings: list[Finding] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not any(f.level == "error" for f in self.findings)

    def errors(self) -> list[Finding]:
        return [f for f in self.findings if f.level == "error"]

    def add(self, level: str, code: str, detail: str) -> None:
        self.findings.append(Finding(level, code, detail))


def _pairs(cols: dict[str, list], *names: str):
    """Row-iterate selected columns of one shard's columnar view."""
    vals = [cols.get(n) or [None] * cols["__n__"] for n in names]
    return zip(*vals)


def _norm_cols(cols: dict[str, Any]) -> dict[str, Any]:
    n = len(cols.get("path") or ())
    out = dict(cols)
    out["__n__"] = n
    return out


def check_table(table: LakeTable, *, snapshot_id: int | None = None,
                deep_sample: int = 0) -> FsckReport:
    """Verify the table's metadata invariants; see module docstring.

    ``deep_sample > 0`` additionally opens that many parquet footers
    (evenly spread over the file list) and cross-checks row counts and
    ``_lsn`` bounds against the stamped metadata."""
    rep = FsckReport()

    # -- pointer + snapshot parse -------------------------------------
    try:
        snap: Snapshot = (table.snapshot(snapshot_id)
                          if snapshot_id is not None else table.current())
    except Exception as e:
        rep.add("error", "unreadable-snapshot",
                f"cannot load snapshot: {type(e).__name__}: {e}")
        return rep
    rep.snapshot_id = snap.snapshot_id

    # -- manifest-list invariants (zero manifest I/O) ------------------
    ranges: list[tuple[int, int, str]] = []
    for e in snap.manifests or ():
        rep.shards_seen += 1
        if (e.lo is None) != (e.hi is None):
            rep.add("error", "half-open-range",
                    f"shard {e.path}: lo={e.lo} hi={e.hi}")
        elif e.lo is not None:
            if e.lo >= e.hi:
                rep.add("error", "empty-range",
                        f"shard {e.path}: [{e.lo},{e.hi})")
            if e.lo < 0 or e.hi > snap.n_buckets:
                rep.add("error", "range-out-of-bounds",
                        f"shard {e.path}: [{e.lo},{e.hi}) outside "
                        f"[0,{snap.n_buckets})")
            ranges.append((e.lo, e.hi, e.path))
        if e.n_files < 0 or e.rows < 0:
            rep.add("error", "negative-aggregate",
                    f"shard {e.path}: n_files={e.n_files} rows={e.rows}")
    ranges.sort()
    for (lo1, hi1, p1), (lo2, hi2, p2) in zip(ranges, ranges[1:]):
        if lo2 < hi1:
            rep.add("error", "overlapping-ranges",
                    f"[{lo1},{hi1}) {p1} overlaps [{lo2},{hi2}) {p2}")

    # -- epoch ledger + snapshot chain ---------------------------------
    for sid, ep in snap.committed_epochs.items():
        if not isinstance(ep, int) or ep < 0:
            rep.add("error", "bad-epoch",
                    f"stream {sid!r}: committed epoch {ep!r}")
    try:
        history = table.history()
    except Exception as e:
        history = []
        rep.add("warning", "unreadable-history",
                f"{type(e).__name__}: {e}")
    for prev, cur in zip(history, history[1:]):
        if cur.parent_id is not None and cur.parent_id != prev.snapshot_id:
            # rollback legitimately re-parents; flag only a FORWARD link
            if cur.parent_id > cur.snapshot_id:
                rep.add("error", "parent-after-child",
                        f"v{cur.snapshot_id} parent v{cur.parent_id}")

    # -- per-file checks over the columnar shard views ------------------
    shard_iter = zip(list(snap.manifests or ()), snap.file_columns()) \
        if snap.manifests else ((None, c) for c in snap.file_columns())
    deep_paths: list[tuple[str, int, int | None, int | None]] = []
    for entry, raw in shard_iter:
        cols = _norm_cols(raw)
        n = cols["__n__"]
        rep.files_seen += n
        shard_rows = 0
        if entry is not None and entry.n_files != n:
            rep.add("error", "aggregate-n-files",
                    f"shard {entry.path}: lists {entry.n_files} files, "
                    f"holds {n}")
        for (path, rows, bucket, buckets, min_lsn, max_lsn, min_ts,
             max_ts, min_key, max_key, schema_v) in _pairs(
                cols, "path", "rows", "bucket", "buckets", "min_lsn",
                "max_lsn", "min_ts", "max_ts", "min_key", "max_key",
                "schema_v"):
            shard_rows += rows or 0
            full = os.path.join(table.path, path)
            if not os.path.exists(full):
                rep.add("error", "missing-data-file", path)
            elif os.path.getsize(full) == 0:
                rep.add("error", "empty-data-file", path)
            if rows is None or rows < 0:
                rep.add("error", "bad-row-count", f"{path}: rows={rows}")
            else:
                rep.rows_seen += rows
            if bucket is not None and not (0 <= bucket < snap.n_buckets):
                rep.add("error", "bucket-out-of-range",
                        f"{path}: bucket={bucket}")
            if bucket is None and buckets is not None and any(
                    not (0 <= b < snap.n_buckets) for b in buckets):
                rep.add("error", "delta-buckets-out-of-range",
                        f"{path}: buckets={buckets}")
            if entry is not None and entry.lo is not None \
                    and bucket is not None \
                    and not (entry.lo <= bucket < entry.hi):
                rep.add("error", "file-outside-shard-range",
                        f"{path}: bucket {bucket} not in "
                        f"[{entry.lo},{entry.hi})")
            for lo, hi, what in ((min_lsn, max_lsn, "lsn"),
                                 (min_ts, max_ts, "ts"),
                                 (min_key, max_key, "key")):
                if lo is not None and hi is not None and lo > hi:
                    rep.add("error", f"inverted-{what}-bounds",
                            f"{path}: min_{what}={lo!r} > max_{what}={hi!r}")
            if schema_v is not None and schema_v > snap.snapshot_id:
                rep.add("error", "schema-vintage-from-future",
                        f"{path}: schema_v={schema_v} > "
                        f"v{snap.snapshot_id}")
            deep_paths.append((path, rows or 0, min_lsn, max_lsn))
        if entry is not None and entry.rows != shard_rows:
            rep.add("error", "aggregate-rows",
                    f"shard {entry.path}: lists {entry.rows} rows, "
                    f"files sum to {shard_rows}")

    # -- deep: parquet footer cross-check on a bounded sample -----------
    if deep_sample > 0 and deep_paths:
        import pyarrow.parquet as pq
        step = max(1, len(deep_paths) // deep_sample)
        for path, rows, min_lsn, max_lsn in deep_paths[::step][:deep_sample]:
            full = os.path.join(table.path, path)
            if not os.path.exists(full):
                continue            # already reported above
            try:
                md = pq.ParquetFile(full).metadata
            except Exception as e:
                rep.add("error", "unreadable-footer",
                        f"{path}: {type(e).__name__}: {e}")
                continue
            rep.footers_checked += 1
            if md.num_rows != rows:
                rep.add("error", "footer-row-mismatch",
                        f"{path}: footer {md.num_rows} != stamped {rows}")
            if min_lsn is not None:
                lsn_idx = next((i for i in range(md.num_columns)
                                if md.schema.column(i).name == "_lsn"), None)
                if lsn_idx is not None:
                    lo = min(md.row_group(g).column(lsn_idx).statistics.min
                             for g in range(md.num_row_groups))
                    hi = max(md.row_group(g).column(lsn_idx).statistics.max
                             for g in range(md.num_row_groups))
                    if lo < min_lsn or hi > max_lsn:
                        rep.add("error", "footer-lsn-outside-bounds",
                                f"{path}: footer [{lo},{hi}] outside "
                                f"stamped [{min_lsn},{max_lsn}]")

    # -- refs: every tag must resolve to an on-disk snapshot ------------
    try:
        tags = table.tags()
    except Exception as e:
        rep.add("error", "unreadable-tags",
                f"refs dir unreadable: {type(e).__name__}: {e}")
        tags = {}
    for name, t in tags.items():
        try:
            table.snapshot(int(t["snapshot_id"]))
        except Exception:
            rep.add("error", "tag-target-missing",
                    f"tag {name!r} -> v{t.get('snapshot_id')} not on disk "
                    "(expired under the pin, or hand-deleted)")

    # -- refs: branches — head resolvable, fork base on disk, files live
    try:
        branches = table.branches()
    except Exception as e:
        rep.add("error", "unreadable-branches",
                f"branch refs unreadable: {type(e).__name__}: {e}")
        branches = {}
    for name, b in branches.items():
        try:
            bh = table.on_branch(name)
            head = bh.current()
        except Exception:
            rep.add("error", "branch-head-missing",
                    f"branch {name!r} head v{b.get('head')} unreadable "
                    "(pointer past the last branch snapshot object?)")
            continue
        try:
            table.snapshot(int(b["base"]))
        except Exception:
            rep.add("warning", "branch-base-missing",
                    f"branch {name!r}: fork point v{b.get('base')} expired "
                    "— publish will refuse; drop + re-branch")
        if head.snapshot_id != int(b["base"]):
            try:
                missing = [f.path for f in head.files
                           if not os.path.exists(
                               os.path.join(table.path, f.path))]
            except Exception as e:
                rep.add("error", "branch-files-unreadable",
                        f"branch {name!r}: head manifests unreadable: "
                        f"{type(e).__name__}: {e}")
                missing = []
            for p in missing:
                rep.add("error", "branch-file-missing",
                        f"branch {name!r}: {p} missing (orphan sweep ran "
                        "without the branch pin?)")

    return rep


def main(argv: list[str] | None = None) -> int:
    """CLI: ``python -m rockefeller_spark.fsck <table> [--deep N]``.
    Pure metadata + parquet footers — needs NO Spark session, so an
    operator can check a table while the cluster is down (which is
    exactly when they want to)."""
    import argparse
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("table", help="lake table path")
    ap.add_argument("--deep", type=int, default=0, metavar="N",
                    help="cross-check N parquet footers (0 = metadata only)")
    ap.add_argument("--snapshot", type=int, default=None)
    args = ap.parse_args(argv)
    # bare handle, not load(): load raises on a corrupt pointer, but
    # reporting that corruption is this tool's whole job. No session.
    table = LakeTable(None, args.table)
    rep = check_table(table, snapshot_id=args.snapshot,
                      deep_sample=args.deep)
    for f in rep.findings:
        print(f"{f.level:7s} {f.code}: {f.detail}")
    print(f"{'OK' if rep.ok else 'CORRUPT'} v{rep.snapshot_id}: "
          f"{rep.files_seen} files / {rep.rows_seen} rows / "
          f"{rep.shards_seen} shards, {rep.footers_checked} footers checked, "
          f"{len(rep.errors())} errors")
    return 0 if rep.ok else 1


if __name__ == "__main__":          # pragma: no cover - thin CLI
    raise SystemExit(main())
