"""Bounded-state streaming dedup through a persisted Bloom filter.

Structured Streaming's ``dropDuplicates`` keeps every seen key in the
state store — exact, but state grows with the key universe.  This module
is the bounded-memory alternative for at-most-once emission of each key:
a Bloom filter persisted across micro-batches (n_bits/8 bytes TOTAL, for
any number of keys) drops rows whose key is probably-seen.  Error is
one-sided in the DEDUP-SAFE direction: a false positive drops a genuinely
new key (bounded by fpp, measured per batch); a seen key can never pass
twice, because after its first batch its bits are guaranteed set — the
"never emit a duplicate" invariant holds unconditionally.

Commit protocol (v2, r11 — the ClusterStore economization ported): the
filter snapshot travels INSIDE the meta commit row.  Each fold publishes
one driver-written parquet file ``meta/part-{batch_id}-{uuid}.parquet``
with schema ``(batch_id, content)`` via pyarrow + atomic ``os.replace``
— the commit row IS the snapshot, written last, append-only.  A crash
anywhere earlier in the fold leaves no new meta file, so readers
re-surface the previous generation whole; a replayed batch fences on
batch_id.  Within a batch, first occurrence per key is chosen
deterministically before probing.  v1 spent four Spark jobs per fold on
protocol alone (meta read-back, snapshot read-back, snapshot write, meta
append — ~0.5 s fixed cost each at local[32]); v2's protocol runs on the
driver in microseconds, leaving exactly two data jobs per fold (the
survivor write and the tiny partial-filter build over the survivors just
written).  Spark data paths stay FS-agnostic; the meta protocol requires
a driver-local base_dir and REFUSES remote schemes at construction
(swap the commit for a conditional-put on object stores), exactly as
ClusterStore does.

The per-batch filter is built over the SURVIVOR keys only, not all
firsts: every dropped key was dropped because ``contains(old, key)`` was
True, i.e. all of its probe bits are already set in the old filter — so
``old | bloom(survivors)`` still answers True for EVERY key of the
batch, never-twice stays unconditional, and strictly fewer bits are set
(fewer future false positives) than folding the full batch.  As a
consequence the filter's ``n_added`` counts keys ADMITTED (emitted),
not keys seen.

crick contract parity: the filter is the same ``BloomFilter`` kernel
(init/add/merge/finalize) the batch ``bloom_semi_join`` uses — this is
its streaming fold, exactly as sketch_store is tdigest's.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crick_spark.sketches import codec
from crick_spark.sketches.bloom import BloomFilter
from crick_spark.streaming.fsutil import local_meta_path


class BloomDedupStore:
    def __init__(
        self,
        base_dir: str,
        key_col: str,
        n_bits: int = 1 << 22,
        n_hashes: int = 5,
    ):
        local = local_meta_path(base_dir, "BloomDedupStore")  # raises remote
        self.base = base_dir
        self.key_col = key_col
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self._meta_local = f"{local}/meta"
        self._out = f"{base_dir}/survivors"

    # -- meta protocol (driver-local, zero Spark jobs) -------------------

    def _meta_files(self) -> list[tuple[int, str]]:
        """(batch_id, filename) for every committed generation,
        ascending; tmp files (in-flight writes) are invisible."""
        try:
            names = os.listdir(self._meta_local)
        except FileNotFoundError:
            return []
        out = []
        for n in names:
            if not (n.startswith("part-") and n.endswith(".parquet")):
                continue
            try:
                out.append((int(n.split("-")[1]), n))
            except (IndexError, ValueError):
                continue
        return sorted(out)

    def read_meta(self, spark: SparkSession | None = None):
        """Latest committed generation: ``(batch_id, BloomFilter)``, or
        ``(-1, None)`` for a fresh store.  Driver-side pyarrow read of
        ONE file — no Spark job.  Replay twins (same batch_id committed
        twice) hold identical content by construction; the tie-break is
        deterministic (max filename)."""
        import pyarrow.parquet as pq

        files = self._meta_files()
        if not files:
            return -1, None
        bid, name = files[-1]
        t = pq.read_table(os.path.join(self._meta_local, name))
        return bid, codec.loads(t.column("content")[0].as_py())

    def _commit_meta(self, batch_id: int, bf: BloomFilter) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self._meta_local, exist_ok=True)
        name = f"part-{int(batch_id):09d}-{uuid.uuid4().hex}.parquet"
        table = pa.table(
            {
                "batch_id": pa.array([int(batch_id)], pa.int64()),
                "content": pa.array([codec.dumps(bf)], pa.binary()),
            }
        )
        tmp = os.path.join(self._meta_local, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self._meta_local, name))

    def vacuum(self, keep_last: int = 2) -> int:
        """Drop all but the newest ``keep_last`` committed generations
        (each holds one n_bits/8-byte compressed blob).  Returns the
        number of files removed.  The latest generation is never
        touched, so readers racing a vacuum still resolve."""
        files = self._meta_files()
        removed = 0
        for _, name in files[: max(0, len(files) - max(1, keep_last))]:
            try:
                os.remove(os.path.join(self._meta_local, name))
                removed += 1
            except OSError:
                pass
        return removed

    # -- the fold ---------------------------------------------------------

    def fold(self, batch_df: DataFrame, batch_id: int) -> bool:
        """Dedup one micro-batch against all history; returns False for a
        fenced replay.  Survivors append to ``survivors_path()``."""
        s = batch_df.sparkSession
        last_id, bf = self.read_meta(s)
        if int(batch_id) <= last_id:
            return False
        if bf is None:
            bf = BloomFilter(n_bits=self.n_bits, n_hashes=self.n_hashes)
        # deterministic first-occurrence-per-key WITHIN the batch, then
        # probe history: survivors = keys whose bits aren't all set
        firsts = (
            batch_df.where(F.col(self.key_col).isNotNull())
            .groupBy(self.key_col)
            .agg(F.count("*").alias("n_in_batch"))
        )
        from crick_spark.operators.crick_ops import (
            bloom_build_bytes,
            bloom_probe_column,
        )

        seen = bloom_probe_column(codec.dumps(bf), firsts, self.key_col)
        out = firsts.where(~seen).select(self.key_col, "n_in_batch")
        # Idempotent per-batch sink: each batch owns a Hive-style
        # partition directory it OVERWRITES, so a crash between this
        # write and the meta commit (which fences replays) makes the
        # replay rewrite the same directory instead of appending a
        # duplicate copy of the batch's survivors — "never emit a
        # duplicate" holds across restarts, not just within a run.
        part = f"{self._out}/batch_id={int(batch_id)}"
        out.write.mode("overwrite").parquet(part)
        # Fold the batch's SURVIVOR keys into the filter DISTRIBUTEDLY
        # (per-partition partials, bitwise-OR merge, one n_bits/8-byte
        # blob to the driver — no per-key collect), reading back the
        # tiny parquet just written instead of re-running the firsts
        # shuffle.  Dropped keys need no fold: their bits are provably
        # already set (see module docstring).
        batch_bf = codec.loads(
            bloom_build_bytes(
                s.read.parquet(part), self.key_col, n_bits=self.n_bits,
                n_hashes=self.n_hashes,
            )
        )
        bf = bf.merge(batch_bf)
        # commit LAST: the meta row (which fences replays) carries the
        # merged snapshot itself — atomic rename, no Spark job
        self._commit_meta(batch_id, bf)
        return True

    def survivors(self, spark: SparkSession) -> DataFrame:
        """All emitted (batch_id, key, n_in_batch) rows; ``batch_id`` is
        recovered by partition discovery from the per-batch directories."""
        return spark.read.parquet(self._out)
