"""Session-factory resolution rules, checked without starting Spark."""

from __future__ import annotations

import os
import tempfile

import pytest

from hadrodb_spark import config, session


class _Vfs:
    def __init__(self, free_bytes: int) -> None:
        self.f_frsize = 4096
        self.f_bavail = free_bytes // 4096


@pytest.fixture()
def scratch_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    monkeypatch.delenv(config.SCRATCH_ENV, raising=False)
    monkeypatch.setattr(config, "_scratch_cache", None)
    return monkeypatch


def test_explicit_scratch_dir_is_kept_when_nearly_full(scratch_env, tmp_path):
    scratch_env.setenv(config.SCRATCH_ENV, str(tmp_path))
    scratch_env.setattr(os, "statvfs", lambda _: _Vfs(1024**3))
    assert session._local_scratch() == os.path.join(str(tmp_path), "spark_local")


@pytest.mark.parametrize("free_gib, falls_back", [(1, True), (8, False)])
def test_default_scratch_dir_guarded_by_free_space(
    scratch_env, tmp_path, free_gib, falls_back
):
    scratch_env.setattr(config, "scratch_dir", lambda: str(tmp_path))
    scratch_env.setattr(os, "statvfs", lambda _: _Vfs(free_gib * 1024**3))
    want = (
        tempfile.gettempdir()
        if falls_back
        else os.path.join(str(tmp_path), "spark_local")
    )
    assert session._local_scratch() == want


_CHANGELOG = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
_HDFS = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"


def test_changelog_flag_set_for_default_rocksdb(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STATESTORE_PROVIDER", raising=False)
    confs = session._state_store_confs()
    assert confs["spark.sql.streaming.stateStore.providerClass"].endswith(
        "RocksDBStateStoreProvider"
    )
    assert confs[_CHANGELOG] == "true"


def test_changelog_flag_absent_for_hdfs_provider(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STATESTORE_PROVIDER", _HDFS)
    confs = session._state_store_confs()
    assert confs == {"spark.sql.streaming.stateStore.providerClass": _HDFS}
