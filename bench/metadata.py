"""Metadata cost curves: monolithic file-list JSON (the round-3 design)
vs manifest-sharded snapshots (round 4) vs range-split shards + pruned
metadata reads (round 5), at 10^4 / 10^5 / 10^6 / 10^7 DataFile entries.

What is measured per table size F (driver-side, no Spark):

- ``monolithic_commit_sec``: serialize + fsync ALL F file entries into one
  snapshot JSON — what every commit paid before sharding, O(F) per commit
  (skipped at 10^7: a ~1.4 GB JSON per commit speaks for itself).
- ``sharded_commit_sec``: a real ``LakeTable.commit`` of a 1-bucket change
  (1 add + 1 remove) against a table whose manifests already hold F
  entries — rewrites only the covering shard(s); with range SPLITTING the
  rewritten shard is capped at ``manifest_target_entries`` files, so this
  stays flat as F grows (round 4's fixed 32-shard grid crept back up as
  O(F/32)).
- ``pruned_lookup_sec``: ``files_for({one bucket})`` with a COLD cache —
  the point-read metadata bill (round 4 loaded every shard here: O(F);
  round 5 loads the covering shard only, flat in F).
- ``sharded_cold_load_sec``: full ``snapshot().files`` materialization from
  disk with a cold cache — what a full-table scan's planning still pays
  once per process, O(F) by necessity (it returns every entry).
- ``wap_stage_sec`` / ``wap_publish_sec``: write-audit-publish metadata
  bill — staging as a one-commit branch (branch create + covering-shard
  commit) and the publish (changed-shard diff + covering-shard commit on
  main + idempotence lineage scan over retained snapshots); a WAP
  pipeline pays these per batch, so both must stay ~flat in F.
- ``n_shards``: manifest-shard count — grows with F via range splits.

Run:  python bench/metadata.py [--backend posix|s3sem] [--max-files N]

``--backend s3sem`` routes the whole commit protocol through
``FakeObjectStoreBackend`` (conditional-PUT objects + catalog-CAS
pointer, every operation under the store-atomicity lock) so the
metadata bill of an object-store deployment is a measured number, not
an assumption — same curves, one column per backend.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rockefeller_spark.lake import DataFile, LakeTable, Snapshot  # noqa: E402
from rockefeller_spark.schema import STORED_TRANSCRIPT_SCHEMA  # noqa: E402

N_BUCKETS = 4096


def synth_files(n: int) -> list[DataFile]:
    return [DataFile(f"data/{i:032x}-b{i % N_BUCKETS:05d}.parquet",
                     i % N_BUCKETS, 100_000, i * 10, i * 10 + 9)
            for i in range(n)]


def bench_monolithic(files: list[DataFile], tmp: str) -> float:
    """The round-3 commit bill: one JSON with every DataFile, fsynced."""
    payload = {"format_version": 1, "snapshot_id": 1, "parent_id": 0,
               "files": [f.to_json() for f in files]}
    path = os.path.join(tmp, "mono.json")
    t0 = time.perf_counter()
    with open(path, "w") as fh:
        json.dump(payload, fh)
        fh.flush()
        os.fsync(fh.fileno())
    wall = time.perf_counter() - t0
    size = os.path.getsize(path)
    os.remove(path)
    return wall, size


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--backend", choices=["posix", "s3sem"], default="posix")
    ap.add_argument("--max-files", type=int, default=10_000_000)
    args = ap.parse_args()
    if args.backend == "s3sem":
        from rockefeller_spark.backends import FakeObjectStoreBackend
        LakeTable.backend_factory = FakeObjectStoreBackend
    out = {}
    for n in (10_000, 100_000, 1_000_000, 10_000_000):
        if n > args.max_files:
            continue
        tmp = tempfile.mkdtemp(prefix="rk-metabench-")
        try:
            files = synth_files(n)
            if n <= 1_000_000:
                mono_wall, mono_bytes = bench_monolithic(files, tmp)
            else:
                mono_wall = mono_bytes = None

            # a real sharded table seeded with n files (seed commit cost is
            # excluded; it is the one-time backfill, not the steady state)
            table = LakeTable(None, os.path.join(tmp, "t"))
            os.makedirs(table.meta_dir)
            manifests = table._shard_all(files, N_BUCKETS)
            snap = Snapshot(0, None, STORED_TRANSCRIPT_SCHEMA, N_BUCKETS,
                            "conv_id", manifests=manifests,
                            loader=table._load_manifest)
            table._write_snapshot(snap)

            # steady-state commit: 1 bucket changes (1 add, 1 remove)
            add = DataFile(f"data/{'f'*32}-b00000.parquet", 0, 100, 1, 2)
            rm = {files[0].path}
            t0 = time.perf_counter()
            table.commit([add], rm)
            sharded_wall = time.perf_counter() - t0

            # pruned point-read metadata bill (cold cache): one bucket's
            # file list — must stay flat in F (loads covering shards only)
            table._manifest_cache = {}
            snap = table.snapshot(table.current_version())
            t0 = time.perf_counter()
            hits = snap.files_for({7})
            lookup_wall = time.perf_counter() - t0
            assert hits and all(f.bucket == 7 for f in hits)
            shards_loaded = len(table._manifest_cache)

            # steady-state streaming expiry: retire the superseded
            # snapshot WITHOUT the orphan sweep — candidates come from the
            # one manifest shard the commit above touched, so this must be
            # flat in F (the round-4 shape listed the whole data dir and
            # rebuilt the full reference set every call)
            t0 = time.perf_counter()
            est = table.expire_snapshots(keep_last=1, clean_orphans=False)
            expire_wall = time.perf_counter() - t0
            assert est["expired_snapshots"] == 1
            # the synthetic DataFiles have no bytes on disk, so the unlink
            # is a no-op; the timed work (candidate scan + liveness check)
            # is identical either way

            # reader cold-load (fresh cache, fresh Snapshot)
            table._manifest_cache = {}
            t0 = time.perf_counter()
            nfiles = len(table.snapshot(table.current_version()).files)
            cold_wall = time.perf_counter() - t0
            assert nfiles == n

            # warm re-access through the same table handle (manifest cache)
            t0 = time.perf_counter()
            nfiles = len(table.snapshot(table.current_version()).files)
            warm_wall = time.perf_counter() - t0
            assert nfiles == n

            # full-table PLANNING sweep, columnar (cold): what the scale
            # consumers (read planning, orphan sweep, compaction sizing)
            # actually pay — parse only, zero DataFile construction
            table._manifest_cache = {}
            snap = table.snapshot(table.current_version())
            t0 = time.perf_counter()
            npaths = sum(len(c["path"]) for c in snap.file_columns())
            plan_wall = time.perf_counter() - t0
            assert npaths == n

            # write-audit-publish at F files (runs LAST — the publish
            # changes the live file set): a stage is a one-commit branch,
            # so staging is a branch create plus a covering-shard commit
            # of the bucket-3 overwrite, and the publish diffs the changed
            # shards, commits them on main and scans RETAINED snapshots
            # for an earlier publish — both must stay flat in F (a WAP
            # pipeline stages/publishes every batch)
            add2 = DataFile(f"data/{'e'*32}-b00003.parquet", 3, 100, 3, 4)
            t0 = time.perf_counter()
            table.create_branch("wap")
            staging = table.on_branch("wap")
            staging.commit([add2], {f.path for f in
                                    staging.current().files_for({3})})
            stage_wall = time.perf_counter() - t0
            t0 = time.perf_counter()
            table.publish_branch("wap")
            publish_wall = time.perf_counter() - t0

            list_bytes = os.path.getsize(table._meta_path(1))
            out[n] = {
                "monolithic_commit_sec": (round(mono_wall, 4)
                                          if mono_wall is not None else None),
                "monolithic_bytes": mono_bytes,
                "sharded_commit_sec": round(sharded_wall, 4),
                "wap_stage_sec": round(stage_wall, 4),
                "wap_publish_sec": round(publish_wall, 4),
                "streaming_expire_sec": round(expire_wall, 4),
                "pruned_lookup_sec": round(lookup_wall, 4),
                "lookup_shards_loaded": shards_loaded,
                "n_shards": len(snap.manifests),
                "manifest_list_bytes": list_bytes,
                "sharded_cold_load_sec": round(cold_wall, 4),
                "sharded_warm_load_sec": round(warm_wall, 4),
                "planning_cols_cold_sec": round(plan_wall, 4),
                "speedup": (round(mono_wall / sharded_wall, 1)
                            if mono_wall is not None else None),
            }
            print(f"F={n}: {out[n]}")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"bench": "metadata_commit_cost", "n_buckets": N_BUCKETS,
                      "backend": args.backend,
                      "results": {str(k): v for k, v in out.items()}}))


if __name__ == "__main__":
    main()
