"""The chunked availableNow stream harness shared by the incremental
foreachBatch streams (count-min sketch, quantile sketch, audio
near-dup, URL frontier, semantic ingest dedup). Each stream supplies
only its per-batch body and its final read; this module owns how the
source is staged, delivered and torn down. The contract:

- ONE-PASS STAGING. The source relation is written as `n_chunks`
  key-ranged parquet chunks — chunk i = (key - lo) div step, with
  step = (hi - lo) div n_chunks + 1 — in ONE job: a derived chunk
  id, repartition("chunk") so each chunk's rows hash to one task,
  and a partitionBy("chunk") write. Each chunk directory holds one
  data file, and the replay reads one file per trigger
  (maxFilesPerTrigger=1), so there is one micro-batch per non-empty
  chunk. Null keys are dropped; an empty key range stages no file
  and so no micro-batch.
- MTIME-PINNED DELIVERY ORDER. The file source orders files by mtime
  with unspecified tie order, and a one-job write commits every
  chunk at once, so each chunk's files get an explicit ascending
  mtime an hour apart (coarse-mtime filesystems keep the order).
  Micro-batches arrive in ascending key order. The ORDERED streams
  (URL frontier: first writer wins; semantic ingest: earlier-batch
  tie-break) rely on it and check it per batch with
  `AscendingBatches`; for the ORDER-FREE streams (counter addition,
  pair-set union) it is harmless.
- EMPTY INPUT. When the key range is empty, one schema-only file is
  staged, so the stream still triggers once and every store the body
  writes exists for the final read.
- BATCH-ID-KEYED REDELIVERY. foreachBatch is at-least-once under a
  replayable source such as Kafka: a batch id may be delivered again
  after a crash. The order-free bodies are idempotent per batch id —
  `VersionedSumStore` for the counter stores, the audio probe's
  `_SUCCESS`-committed per-batch directories (afp.py) for pairs. The
  ordered bodies append, and `AscendingBatches` turns a redelivered
  batch (its min key is not above the max already seen) into a loud
  failure instead of a double append.
- CHECKPOINT REGISTRATION. `ChunkedStream.run` reads the final result
  back and localCheckpoints it before the work dir is removed, and
  registers the checkpoint's blocks with `caching.track_rdd_ids`:
  DataFrame.unpersist cannot reach localCheckpoint blocks, so the
  materializing caller's `release_cached(spark)` is what frees them.

Only this module knows the source is staged parquet; swapping it for
a Kafka source leaves every foreachBatch body unchanged.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_project_spark.caching import persistent_rdd_ids, track_rdd_ids

_MTIME_STEP_S = 3600


def _stage(src: DataFrame, key: str, n_chunks: int, bounds: DataFrame, src_dir: str) -> None:
    lo, hi = bounds.agg(F.min(key), F.max(key)).first()
    if lo is None:
        src.limit(0).write.parquet(os.path.join(src_dir, "chunk=0"))
        return
    step = (int(hi) - int(lo)) // n_chunks + 1
    (
        src.filter(F.col(key).isNotNull())
        .withColumn("chunk", F.expr(f"({key} - {int(lo)}) div {step}").cast("int"))
        .repartition("chunk")
        .write.partitionBy("chunk")
        .parquet(src_dir)
    )
    base = int(time.time()) - _MTIME_STEP_S * n_chunks
    for i in range(n_chunks):
        t = base + i * _MTIME_STEP_S
        for root, _dirs, files in os.walk(os.path.join(src_dir, f"chunk={i}")):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))


class ChunkedStream:
    """A staged source in a temp work dir; see `chunked_stream`."""

    def __init__(self, src: DataFrame, work: str):
        self._spark, self._schema, self.work = src.sparkSession, src.schema, work

    def path(self, name: str) -> str:
        """A path inside the work dir, for the body's stores."""
        return os.path.join(self.work, name)

    def run(
        self,
        on_batch: Callable[[DataFrame, int], None],
        result: Callable[[], DataFrame],
    ) -> tuple[DataFrame, int]:
        """Replay the staged chunks into `on_batch(batch_df, batch_id)`
        under availableNow, then read `result()` back as a registered
        localCheckpoint. Returns (result, n_micro_batches)."""
        sq = (
            self._spark.readStream.schema(self._schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(self.path("src"))
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", self.path("ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
        before = persistent_rdd_ids(self._spark)
        res = result().localCheckpoint(eager=True)
        track_rdd_ids(self._spark, persistent_rdd_ids(self._spark) - before)
        return res, len(sq.recentProgress)


@contextmanager
def chunked_stream(
    src: DataFrame, key: str, n_chunks: int, bounds: DataFrame | None = None
) -> Iterator[ChunkedStream]:
    """Stage `src` as `n_chunks` `key`-ranged micro-batches in a fresh
    work dir (module docstring has the contract) and remove the dir on
    exit. The key range is read from `bounds` when given — a cheap
    projection of the same keys, for a `src` whose key column cannot
    be pruned out of an Arrow stage."""
    work = tempfile.mkdtemp(prefix="chunked_stream_")
    try:
        _stage(src, key, n_chunks, src if bounds is None else bounds, os.path.join(work, "src"))
        yield ChunkedStream(src, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


class VersionedSumStore:
    """A (keys..., value) counter store maintained across micro-batches:
    each batch's delta is summed into a new consolidated version, so
    the final read is reachable only through the carried state.

    Versions are keyed by batch id and committed by their `_SUCCESS`
    marker. A redelivered batch whose version is committed is skipped,
    so each delta is merged exactly once; a version a crashed attempt
    left without `_SUCCESS` is overwritten by the retry. Versions are
    cumulative, so the pointer to the newest one never moves back: a
    stale redelivery of an older batch must not drop later merges.
    The pointer lives in driver memory (one availableNow run); a
    restartable deployment would persist it next to the versions."""

    def __init__(self, root: str, empty: DataFrame, keys: Sequence[str], value: str):
        self._spark = empty.sparkSession
        self._root, self._keys, self._value = root, list(keys), value
        self.path, self.bid = os.path.join(root, "v_init"), -1
        empty.write.parquet(self.path)

    def merge(self, bid: int, delta: DataFrame) -> None:
        nxt = os.path.join(self._root, f"b{bid}")
        if os.path.exists(os.path.join(nxt, "_SUCCESS")):
            if bid >= self.bid:  # retry of the newest committed batch
                self.path, self.bid = nxt, bid
            return
        (
            self.read()
            .unionByName(delta)
            .groupBy(*self._keys)
            .agg(F.sum(self._value).cast("long").alias(self._value))
            .write.mode("overwrite")
            .parquet(nxt)
        )
        self.path, self.bid = nxt, bid

    def read(self) -> DataFrame:
        return self._spark.read.parquet(self.path)


class AscendingBatches:
    """The ordered streams' delivery guard: every micro-batch's key
    range must lie strictly above all earlier batches'. Callers pass
    the batch min/max they already compute, so the check adds no Spark
    job. Oracle equality of an ordered stream assumes earlier keys are
    already in its seen store; an out-of-order batch fails loudly
    instead of silently losing cross-batch hits."""

    def __init__(self, stream: str):
        self._stream, self._max_seen = stream, None

    def check(self, lo, hi) -> None:
        if lo is None:
            return  # empty batch
        if self._max_seen is not None and lo <= self._max_seen:
            raise RuntimeError(
                f"{self._stream} delivered out of order: batch min key {lo} "
                f"<= max already seen {self._max_seen}"
            )
        self._max_seen = hi
