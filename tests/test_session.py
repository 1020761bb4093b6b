"""Session defaults: the engine's cached-plan setting and the placement of
stream scratch. Neither needs the parquet fixtures."""

from __future__ import annotations

import os
import tempfile
from types import SimpleNamespace

import pytest

from checkatron_spark import session
from checkatron_spark.session import release, scratch_persist, scratch_tempdir


def test_aqe_coalesces_a_persisted_shuffle_output(spark):
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    df = scratch_persist(
        spark.range(100).selectExpr("id % 3 AS k").groupBy("k").count()
    )
    try:
        assert df.count() == 3
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        parts = [rdds[i].getNumPartitions() for i in rdds.keys() if i not in before]
        assert len(parts) == 1, parts
        assert parts[0] < width, (
            f"cached shuffle output kept {parts[0]} partitions of {width}"
        )
    finally:
        release(df)


@pytest.mark.parametrize("spare", [-1, 0])
def test_stream_scratch_uses_shm_only_above_the_free_floor(monkeypatch, spare):
    shm = "/dev/shm"
    if not (os.path.isdir(shm) and os.access(shm, os.W_OK)):
        pytest.skip("no writable /dev/shm on this machine")
    free = session.SHM_SCRATCH_FLOOR_B + spare
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SCRATCH", raising=False)
    monkeypatch.setattr(
        os, "statvfs", lambda path: SimpleNamespace(f_bavail=free, f_frsize=1)
    )
    work = scratch_tempdir("session_test_")
    expected = shm if spare >= 0 else tempfile.gettempdir()
    assert os.path.dirname(work) == expected
