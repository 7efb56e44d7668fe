"""Host-derived session defaults: the spark.local.dir free-space guard and
the state-store confs.  Pure unit tests — no SparkSession is built."""

from __future__ import annotations

import os
import tempfile
from types import SimpleNamespace

import pytest

from hadrodb_spark import config, session


@pytest.fixture()
def scarce_scratch(monkeypatch):
    """Every filesystem reports 1 GiB free, below the 4 GiB guard."""
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    monkeypatch.setattr(config, "_scratch_cache", None)
    monkeypatch.setattr(
        session.os,
        "statvfs",
        lambda path: SimpleNamespace(f_bavail=1024**3 // 4096, f_frsize=4096),
    )


def test_explicit_scratch_dir_skips_free_space_guard(scarce_scratch, monkeypatch, tmp_path):
    monkeypatch.setenv(config.SCRATCH_ENV, str(tmp_path))
    assert session._local_scratch() == os.path.join(str(tmp_path), "spark_local")


def test_default_scratch_dir_falls_back_when_scarce(scarce_scratch, monkeypatch):
    monkeypatch.delenv(config.SCRATCH_ENV, raising=False)
    assert session._local_scratch() == tempfile.gettempdir()


def test_local_dir_override_wins(scarce_scratch, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(tmp_path / "local"))
    assert session._local_scratch() == str(tmp_path / "local")


def test_changelog_checkpointing_only_for_rocksdb(monkeypatch):
    flag = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    provider = "spark.sql.streaming.stateStore.providerClass"
    monkeypatch.delenv("SPARK_GRAFT_STATESTORE_PROVIDER", raising=False)
    conf = session._state_store_conf()
    assert conf[provider].endswith("RocksDBStateStoreProvider")
    assert conf[flag] == "true"
    hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    monkeypatch.setenv("SPARK_GRAFT_STATESTORE_PROVIDER", hdfs)
    assert session._state_store_conf() == {provider: hdfs}
