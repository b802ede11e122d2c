"""Every streaming-capacity family in scripts/streaming_ceiling.py
starts against the rate-micro-batch source on the RocksDB state store
and processes a batch: a family that no longer builds or crashes on its
first batch fails here instead of in an hour-long capacity sweep."""

from __future__ import annotations

import json
import time

import pytest

from scripts import streaming_ceiling as SC

_KEY = "spark.sql.streaming.stateStore.providerClass"


@pytest.fixture()
def rocksdb(spark):
    old = spark.conf.get(_KEY, None)
    spark.conf.set(_KEY, SC.ROCKSDB_PROVIDER)
    yield
    if old is None:
        spark.conf.unset(_KEY)
    else:
        spark.conf.set(_KEY, old)


@pytest.mark.parametrize("name", list(SC.FAMILIES))
def test_family_processes_a_batch(spark, rocksdb, tmp_path, name):
    q = SC._build_query(spark, name, 2000, str(tmp_path))
    try:
        deadline = time.monotonic() + 120
        while not any(p.numInputRows > 0 for p in q.recentProgress):
            assert q.isActive, q.exception()
            assert time.monotonic() < deadline, f"{name}: no batch in 120 s"
            time.sleep(0.2)
        progresses = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
        q.awaitTermination(60)
    rows_per_sec, n = SC._steady_state_rows_per_sec(progresses)
    assert rows_per_sec > 0 and n >= 1
