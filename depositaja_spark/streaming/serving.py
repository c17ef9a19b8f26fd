"""Serving tables: the engine's answer to Goka views (queryable state).

The reference serves reads from full local replicas of the log-compacted
group-table topics (balance view service/service.go:43-47, flagger view
:49-53).  Spark has no queryable state primitive, so each streaming query
maintains a compacted serving table via ``foreachBatch`` upsert.

Layout — **hash-bucketed by key** so per-batch IO is bounded by the
batch, not by total state: each table is a parquet directory partitioned
by ``bkt = pmod(xxhash64(key), n_buckets)``.  A micro-batch merge

  1. pre-aggregates the batch per key, computes each key's bucket and
     persists the result, so the batch's upstream plan (the detector's
     Python state machine, the collector's file scan) runs once even
     though steps 2 and 3 are two Spark actions;
  2. collects the distinct dirty bucket ids (≤ n_buckets ints — the only
     driver-side data);
  3. reads ONLY the dirty buckets of the current table (static partition
     pruning on ``bkt``), shuffles the merged rows by ``bkt`` (the fold's
     per-key aggregation reuses that exchange) and rewrites ONLY those
     bucket directories — one parquet file each — each swapped in with
     an atomic rename.

At 100 TB of state with n_buckets sized so a bucket fits an executor,
a micro-batch touching K keys rewrites O(K/n_buckets · state) bytes —
the same dirty-partition shape a Delta/Iceberg MERGE produces — instead
of the full table.  Point lookups (``check``) filter on the foldable
bucket expression, so the scan prunes to one bucket directory.

Exactly-once under sink replay: foreachBatch epoch ids are monotone and
stable across restarts, so every bucket directory carries the epoch that
last wrote it (``_epoch`` file, underscore-prefixed → invisible to the
parquet reader) stamped BEFORE the atomic rename.  A replayed epoch
skips buckets already at or past it; a crash mid-swap leaves some
buckets applied and some not, and the replay completes exactly the
missing ones — per-bucket idempotence, the transactional-sink pattern
Spark's foreachBatch docs prescribe.

On a real deployment the same code targets a Delta/Iceberg table with
MERGE INTO; the local-parquet bucket swap keeps identical semantics
without those jars.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: bucket count for the serving-table layout.  Sized so one bucket of
#: state fits comfortably in an executor's memory at the target scale;
#: local tests use the default.  Must stay constant for a table's
#: lifetime (it defines the on-disk partitioning).
N_BUCKETS = 32


def _bucket(key_col, n_buckets: int):
    """Foldable-for-literals bucket expression — the same function is
    used at write time (partition column) and read time (pruning
    predicate), so lookups of a literal key constant-fold to one
    partition."""
    return F.pmod(F.xxhash64(key_col), F.lit(n_buckets)).cast("int")


class ServingTables:
    """Compacted latest-per-key tables maintained from micro-batches."""

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = N_BUCKETS):
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def read(self, name: str) -> DataFrame | None:
        """Current table as a DataFrame (partition-discovered ``bkt``
        column included).  None before the first micro-batch.  Readers
        never repair the directory: recovery is the single writer's job
        (``_merge_buckets``), so a read never moves or deletes the files
        of a merge in flight."""
        path = self._path(name)
        if not os.path.exists(path) or not any(
            e.startswith("bkt=") for e in os.listdir(path)
        ):
            return None
        return self.spark.read.parquet(path)

    def _recover(self, name: str) -> None:
        """Repair a crash mid-swap.  The swap is two renames
        (dst→``.old``, then src→dst); a crash between them leaves the
        bucket directory absent with its pre-crash state only in the
        ``.old`` snapshot.  Restoring that snapshot here — at the start
        of every merge — makes the subsequent epoch replay merge the
        delta against the true prior state, which is what the
        exactly-once claim in the module docstring requires.  An
        ``.old`` dir whose bucket DOES exist means the swap completed
        and only the cleanup rmtree was lost; it is dropped."""
        final = self._path(name)
        if not os.path.isdir(final):
            return
        for entry in os.listdir(final):
            m = re.match(r"\.bkt=(\d+)\.old\.", entry)
            if not m:
                continue
            dst = os.path.join(final, f"bkt={m.group(1)}")
            old = os.path.join(final, entry)
            if os.path.exists(dst):
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.rename(old, dst)
        # orphaned write-tmp dirs from a crashed merge (single writer per
        # table, so anything matching the pattern is dead)
        for entry in os.listdir(self.root):
            if re.fullmatch(rf"\.{re.escape(name)}\.[0-9a-f]{{32}}", entry):
                shutil.rmtree(os.path.join(self.root, entry), ignore_errors=True)

    # --- bucketed merge core ---------------------------------------------

    def _bucket_epoch(self, name: str, bkt: int) -> int:
        marker = os.path.join(self._path(name), f"bkt={bkt}", "_epoch")
        if not os.path.exists(marker):
            return -1
        with open(marker) as f:
            return int(f.read().strip())

    def _merge_buckets(
        self,
        name: str,
        delta: DataFrame,
        key: str,
        fold,
        epoch_id: int | None,
    ) -> None:
        """Merge a per-key pre-aggregated ``delta`` into the table,
        touching only the buckets the delta's keys hash to.

        ``fold(frame)`` re-compacts the union of old bucket state and the
        delta down to one row per key (it sees only dirty-bucket rows).
        """
        self._recover(name)  # restore any crash-orphaned .old buckets first
        # the foreachBatch frame feeds two actions (dirty-bucket collect,
        # bucket write); materialise it once so the upstream plan — the
        # detector's Python state machine, the collector's file scan —
        # runs once per micro-batch
        cached = delta.withColumn("bkt", _bucket(F.col(key), self.n_buckets)).persist()
        try:
            dirty = sorted(
                r.bkt for r in cached.select("bkt").distinct().collect()
            )  # ≤ n_buckets ints — the only driver-side data
            if epoch_id is not None:
                dirty = [b for b in dirty if self._bucket_epoch(name, b) < epoch_id]
            if not dirty:
                return  # fully replayed micro-batch
            delta = cached.filter(F.col("bkt").isin(dirty))
            current = self.read(name)
            if current is not None:
                # static partition pruning: only dirty bucket dirs are read
                merged = current.filter(F.col("bkt").isin(dirty)).unionByName(delta)
            else:
                merged = delta
            # one shuffle by bucket: the fold's groupBy(key, "bkt") reuses
            # it, and each bucket lands in one write task → one file each
            compacted = fold(merged.repartition("bkt"))

            # write dirty buckets to a tmp dir, then atomic-rename each one
            tmp = self._path(f".{name}.{uuid.uuid4().hex}")
            compacted.write.mode("overwrite").partitionBy("bkt").parquet(tmp)
        finally:
            cached.unpersist()
        final = self._path(name)
        os.makedirs(final, exist_ok=True)
        for b in dirty:
            src = os.path.join(tmp, f"bkt={b}")
            if not os.path.exists(src):
                os.makedirs(src)  # a bucket can compact to zero rows
            if epoch_id is not None:
                with open(os.path.join(src, "_epoch"), "w") as f:
                    f.write(str(epoch_id))
            dst = os.path.join(final, f"bkt={b}")
            old = os.path.join(final, f".bkt={b}.old.{uuid.uuid4().hex}")
            if os.path.exists(dst):
                os.rename(dst, old)
            os.rename(src, dst)
            if os.path.exists(old):
                shutil.rmtree(old)
        shutil.rmtree(tmp, ignore_errors=True)

    def upsert_latest(
        self, name: str, batch: DataFrame, key: str, order: str, epoch_id: int | None = None
    ) -> None:
        """Compact: keep the max-``order`` row per ``key`` across the old
        bucket state and the new batch — the same last-write-wins fold
        Goka applies when replaying a compacted table topic.  Idempotent
        by construction (max_by re-applied to the same rows is a no-op);
        the per-bucket epoch markers short-circuit replays."""
        value_cols = [c for c in batch.columns if c != key]

        def fold(frame: DataFrame) -> DataFrame:
            return (
                frame.groupBy(key, "bkt")
                .agg(F.max_by(F.struct(*value_cols), F.col(order)).alias("v"))
                .select(key, "bkt", "v.*")
            )

        self._merge_buckets(name, batch, key, fold, epoch_id)

    # --- foreachBatch hooks ---------------------------------------------

    def balance_sink(self):
        """Micro-batch of deposits → running balance table.  The batch is
        pre-aggregated per key, then merged additively (sums compose)
        into the dirty buckets only.

        Additive merge is NOT naturally idempotent, so sink-replay after
        a failure (bucket write succeeded, checkpoint commit didn't)
        would double-count — the per-bucket epoch markers make each
        bucket exactly-once (see module docstring)."""

        def sink(batch: DataFrame, epoch_id: int) -> None:
            delta = batch.groupBy("wallet_id").agg(
                F.sum("amount").alias("balance"), F.max("seq").alias("seq")
            )

            def fold(frame: DataFrame) -> DataFrame:
                return frame.groupBy("wallet_id", "bkt").agg(
                    F.sum("balance").alias("balance"), F.max("seq").alias("seq")
                )

            self._merge_buckets("balance", delta, "wallet_id", fold, epoch_id)

        return sink

    def flags_sink(self):
        """Micro-batch of FlagEvents → latest-flag table (A4 fold,
        reference flagger/flagger.go:40-57)."""

        def sink(batch: DataFrame, epoch_id: int) -> None:
            folded = (
                batch.groupBy("wallet_id")
                .agg(
                    F.max_by(
                        F.struct("flag_removed", "rolling_period_start_unix"),
                        F.col("seq"),
                    ).alias("last"),
                    F.max("seq").alias("seq"),
                )
                .select(
                    "wallet_id",
                    (~F.col("last.flag_removed")).alias("flagged"),
                    F.when(F.col("last.flag_removed"), F.lit(0).cast("long"))
                    .otherwise(F.col("last.rolling_period_start_unix"))
                    .alias("rolling_period_start_unix"),
                    "seq",
                )
            )
            self.upsert_latest("flags", folded, key="wallet_id", order="seq", epoch_id=epoch_id)

        return sink

    # --- the read path (J1) ----------------------------------------------

    def _lookup(self, name: str, wallet_id: str):
        """Point lookup pruned to the key's single bucket directory."""
        table = self.read(name)
        if table is None:
            return None
        return table.filter(
            (F.col("bkt") == _bucket(F.lit(wallet_id), self.n_buckets))
            & (F.col("wallet_id") == wallet_id)
        ).collect()

    def check(self, wallet_id: str) -> dict:
        """GET /check/{wallet_id} (reference service/service.go:115-153):
        balance ⋈ flags with zero-value defaults, always one answer —
        including for wallets never seen."""
        bal_row = self._lookup("balance", wallet_id)
        flag_row = self._lookup("flags", wallet_id)
        return {
            "wallet_id": wallet_id,
            "balance": float(bal_row[0]["balance"]) if bal_row else 0.0,
            "above_threshold": bool(flag_row[0]["flagged"]) if flag_row else False,
        }
