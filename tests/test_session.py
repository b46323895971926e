"""Session defaults: where local-mode shuffle scratch goes."""

from __future__ import annotations

import os

from rockefeller_spark import session


class _Statvfs:
    def __init__(self, free_bytes: int):
        self.f_frsize = 4096
        self.f_bavail = free_bytes // 4096


def test_shm_scratch_only_when_tmpfs_has_room(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    monkeypatch.setattr(session, "_SHM_DIR", str(tmp_path / "shm-scratch"))
    free = {"bytes": 16 << 30}
    seen = []

    def fake_statvfs(path):
        seen.append(path)
        return _Statvfs(free["bytes"])
    monkeypatch.setattr(os, "statvfs", fake_statvfs)

    # room (a 16 GB tmpfs) -> the tmpfs default as before
    assert session._scratch_dir("local[4]") == str(tmp_path / "shm-scratch")
    assert seen == ["/dev/shm"]
    # a container's 64 MB /dev/shm -> Spark's own disk default
    free["bytes"] = 64 << 20
    assert session._scratch_dir("local[4]") is None
    free["bytes"] = session._SHM_MIN_FREE_BYTES - 1
    assert session._scratch_dir("local[4]") is None
    # never on a cluster, whatever shm holds
    free["bytes"] = 16 << 30
    assert session._scratch_dir("spark://host:7077") is None

    def no_shm(path):
        raise FileNotFoundError(path)
    monkeypatch.setattr(os, "statvfs", no_shm)
    assert session._scratch_dir("local[4]") is None
    # an explicit override wins without looking at shm
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/scratch/spark")
    assert session._scratch_dir("local[4]") == "/scratch/spark"
