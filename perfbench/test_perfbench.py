"""Tests of the benchmark's own parts: the generator is deterministic and
the detector replay follows the reference rule.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from oracle import WalletOracle, load_deposits, replay_detector, windowed_crossers  # noqa: E402


def _gen(tmp_path, name: str, seed: int) -> list:
    out = tmp_path / name
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--mode", "backlog", "--seed", str(seed),
         "--out", str(out), "--stage", str(tmp_path / f"{name}-stage"),
         "--log", str(tmp_path / f"{name}.jsonl"), "--files", "3", "--rows-per-file", "200",
         "--wallets", "300", "--zipf", "1.1", "--cross-share", "0.05", "--ooo-share", "0.1",
         "--span-s", "600"],
        check=True,
    )
    return [pq.read_table(out / f"dep-{i:06d}.parquet") for i in range(3)]


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = _gen(tmp_path, "a", 5), _gen(tmp_path, "b", 5), _gen(tmp_path, "c", 6)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not all(x.equals(y) for x, y in zip(a, c))


def test_generator_input_properties():
    d = gen.make_deposits(1, 6000, 1000, 0.0, 0.02, 0.05, 3600.0)
    ts = d["ts_us"]
    assert (d["amount"] > 0).all() and len(ts) == 6000
    # some deposits arrive after a later-stamped one: out of order
    ooo = (ts < np.maximum.accumulate(ts)).mean()
    assert 0.01 < ooo < 0.2
    assert d["wallet"].min() >= gen.WALLET_BASE


def test_generator_live_schedule_and_log(tmp_path):
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--mode", "live", "--seed", "1",
         "--out", str(tmp_path / "src"), "--stage", str(tmp_path / "stage"),
         "--log", str(tmp_path / "log.jsonl"), "--files", "5", "--rows-per-file", "4",
         "--wallets", "50", "--span-s", "10", "--files-per-s", "20"],
        check=True, timeout=60,
    )
    log = [json.loads(x) for x in open(tmp_path / "log.jsonl")]
    assert [f["i"] for f in log] == list(range(5))
    assert all(abs((b["due"] - a["due"]) - 0.05) < 1e-6 for a, b in zip(log, log[1:]))
    assert all(f["renamed"] >= f["due"] for f in log)
    assert sorted(os.listdir(tmp_path / "src")) == [f["name"] for f in log]
    assert os.listdir(tmp_path / "stage") == []


def test_replay_add_then_flag_within_period():
    assert replay_detector([(1000, 4000.0), (1030, 4000.0), (1060, 2000.0)]) == [False, False, True]


def test_replay_reset_swallows_the_triggering_deposit():
    # the third deposit arrives 121 s after the period opened: the add
    # happens first, then the reset discards it together with the sum
    flags = replay_detector([(1000, 6000.0), (1010, 3000.0), (1121, 9000.0), (1130, 9999.0)])
    assert flags == [False, False, False, False]
    # the next deposit opens a fresh period, so 10,000 flags again
    assert replay_detector([(1000, 1.0), (1200, 5.0), (1210, 10_000.0)]) == [False, False, True]


def test_replay_exactly_120_s_does_not_reset():
    assert replay_detector([(1000, 5000.0), (1120, 5000.0)]) == [False, True]


def test_replay_flag_clears_after_reset():
    assert replay_detector([(1000, 10_000.0), (1121, 1.0), (1122, 1.0)]) == [True, False, False]


def test_out_of_order_clock_uses_arrival_order():
    # an earlier event time arriving later never triggers a reset
    assert replay_detector([(1100, 6000.0), (1050, 6000.0)]) == [False, True]


def test_wallet_oracle_prefix_and_crossers(tmp_path):
    _gen(tmp_path, "w", 3)
    deps = load_deposits(str(tmp_path / "w" / "*.parquet"))
    orc = WalletOracle(deps)
    w = deps.wallet_id.iloc[0]
    total = float(deps[deps.wallet_id == w].amount.sum())
    assert orc.served_prefix(w, total) == len(orc.prefix[w]) - 1
    assert orc.served_prefix(w, 0.0) == 0
    assert orc.served_prefix(w, -1.0) is None
    flagged = [k for k, v in orc.ever_flagged.items() if v]
    assert flagged and all(orc.balance(k) >= 10_000 for k in flagged)
    assert windowed_crossers(deps)


def test_files_map_to_the_first_batch_that_listed_them():
    from probe import file_batches, percentile

    b0 = {"listed": 10.0, "rows": 5}
    empty = {"listed": 11.0, "rows": 0}
    b1 = {"listed": 12.0, "rows": 5}
    got = file_batches([9.0, 10.5, 11.5, 13.0], [b0, empty, b1])
    assert got == [b0, b1, b1, None]
    assert percentile(list(range(1, 21)), 95) == 19
