"""The shared stream harness's safety code (operators/staging.py):
the batch-id-keyed versioned sum store under at-least-once
redelivery, and the ordered streams' delivery guard."""

from __future__ import annotations

import os

import pytest

from bigdata_project_spark.operators.staging import AscendingBatches, VersionedSumStore


def _rows(store: VersionedSumStore) -> list[tuple]:
    return sorted(tuple(r) for r in store.read().collect())


def test_sum_store_idempotent_under_redelivery(spark, tmp_path):
    """Deliver batches 0, 1, 2 once for the reference store. Then
    deliver 0 and 1, redeliver both as committed retries, crash-retry
    batch 2 over a version dir holding a part file but no _SUCCESS,
    and redeliver everything again: the store must equal the
    single-delivery store, and a stale redelivery must never move the
    pointer back."""
    schema = "k int, c long"
    empty = spark.createDataFrame([], schema)
    deltas = [
        spark.createDataFrame([(1, 2), (2, 1)], schema),
        spark.createDataFrame([(1, 5), (3, 4)], schema),
        spark.createDataFrame([(2, 7), (3, 1)], schema),
    ]

    once = VersionedSumStore(str(tmp_path / "once"), empty, ("k",), "c")
    for bid, d in enumerate(deltas):
        once.merge(bid, d)
    want = _rows(once)
    assert want == [(1, 7), (2, 8), (3, 5)]

    root = str(tmp_path / "redelivered")
    store = VersionedSumStore(root, empty, ("k",), "c")
    store.merge(0, deltas[0])
    store.merge(1, deltas[1])
    newest = store.path
    store.merge(0, deltas[0])  # stale committed redelivery
    assert (store.path, store.bid) == (newest, 1)
    store.merge(1, deltas[1])  # committed retry of the newest batch
    assert (store.path, store.bid) == (newest, 1)
    assert _rows(store) == [(1, 7), (2, 1), (3, 4)]

    # a crashed attempt at batch 2 left a torn part file, no _SUCCESS
    os.makedirs(os.path.join(root, "b2"))
    with open(os.path.join(root, "b2", "part-00000.snappy.parquet"), "wb") as fh:
        fh.write(b"PAR1\x00\x13torn")
    store.merge(2, deltas[2])
    assert store.bid == 2 and _rows(store) == want
    newest = store.path
    for bid, d in enumerate(deltas):
        store.merge(bid, d)
        assert (store.path, store.bid) == (newest, 2)
    assert _rows(store) == want


def test_ascending_batches_guard():
    """Ascending, non-overlapping batch key ranges pass (empty batches
    are skipped); a batch whose min key is <= the max already seen
    raises, whether it overlaps, repeats or goes backwards."""
    guard = AscendingBatches("test stream")
    guard.check(0, 9)
    guard.check(None, None)
    guard.check(10, 19)
    guard.check(25, 25)
    for lo, hi in [(25, 30), (20, 24), (0, 9)]:
        with pytest.raises(RuntimeError, match="test stream delivered out of order"):
            guard.check(lo, hi)
    guard.check(26, 40)
