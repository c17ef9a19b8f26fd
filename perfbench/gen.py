"""Seeded deposit generator, run as its own process.

Writes deposit files in the ``events`` parquet schema the file source
reads (every row a ``purchase`` with a positive amount, so every row is a
deposit).  Each file is written to a staging directory, stamped with its
due time (the file's mtime) and renamed into the source directory, so the
stream never sees a half-written file.

Two modes:

* ``backlog`` writes every file at once, as fast as it can: the input of
  a drain.
* ``live`` renames file ``i`` at ``start + i / files_per_s`` on an
  open-loop schedule (``start`` is ``LEAD_S`` after the inputs are
  generated) that does not slow down when the system under test
  does; lateness (rename time minus due time) is logged per file.

Every input property is a command-line argument, so the benchmark passes
them from ``perfbench/workloads.json`` and the same seed and arguments
always give the same rows.  One JSON line per file goes to ``--log``.

Run ``python3 perfbench/gen.py --help`` for the arguments.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: first wallet id; ids below it are never generated, so the benchmark
#: can draw unknown wallets from there
WALLET_BASE = 10_000_000
#: event time of the first deposit (2024-01-01T00:00:00Z), in seconds
T0 = 1_704_067_200
#: live mode: file 0 is due this long after the inputs are generated
LEAD_S = 0.05
#: cap on an ordinary deposit, so that no single deposit crosses 10,000
AMOUNT_CAP = 5_000.0

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def wallet_weights(n_wallets: int, zipf_s: float) -> np.ndarray:
    """Probability of each wallet rank: uniform for ``zipf_s == 0``,
    otherwise proportional to ``1 / rank ** zipf_s``."""
    w = 1.0 / np.arange(1, n_wallets + 1, dtype=np.float64) ** zipf_s
    return w / w.sum()


def make_deposits(
    seed: int,
    n_deposits: int,
    n_wallets: int,
    zipf_s: float,
    cross_share: float,
    ooo_share: float,
    span_s: float,
) -> dict[str, np.ndarray]:
    """All deposits in arrival order: wallet, amount, event time (µs).

    * Ordinary amounts are Pareto-tailed (shape 1.6, scale 25), capped at
      ``AMOUNT_CAP``.
    * A ``cross_share`` of wallets also gets a burst of three deposits of
      3,400-5,000 within 60 s of event time, enough to cross 10,000 inside
      one 120 s rolling period.
    * Event times spread uniformly over ``span_s`` seconds; arrival order
      follows event time except for an ``ooo_share`` of deposits, which
      arrive 1-60 s of event time late (so they are out of order).
    """
    rng = np.random.default_rng(seed)
    n_cross = int(round(cross_share * n_wallets))
    n_plain = n_deposits - 3 * n_cross
    if n_plain < 0:
        raise ValueError("cross_share too large for n_deposits")

    wallet = rng.choice(n_wallets, size=n_plain, p=wallet_weights(n_wallets, zipf_s))
    amount = np.minimum(25.0 * (1.0 + rng.pareto(1.6, size=n_plain)), AMOUNT_CAP)
    ts = rng.uniform(0.0, span_s, size=n_plain)

    crossers = rng.choice(n_wallets, size=n_cross, replace=False)
    burst_start = rng.uniform(0.0, max(span_s - 60.0, 0.0), size=n_cross)
    wallet = np.concatenate([wallet, np.repeat(crossers, 3)])
    amount = np.concatenate([amount, rng.uniform(3_400.0, 5_000.0, size=3 * n_cross)])
    ts = np.concatenate(
        [ts, np.repeat(burst_start, 3) + rng.uniform(0.0, 60.0, size=3 * n_cross)]
    )

    late = rng.random(ts.size) < ooo_share
    arrival = ts + np.where(late, rng.uniform(1.0, 60.0, size=ts.size), 0.0)
    order = np.argsort(arrival, kind="stable")
    ts_us = T0 * 1_000_000 + np.round(ts[order] * 1e6).astype(np.int64)
    return {
        "wallet": (WALLET_BASE + wallet[order]).astype(np.int64),
        "amount": np.round(amount[order], 2),
        "ts_us": ts_us,
    }


def file_table(deposits: dict[str, np.ndarray], lo: int, hi: int, seq0: int) -> pa.Table:
    """Rows ``lo:hi`` of the arrival sequence as one events file; the
    event id (the program's ``seq``) is the global arrival index."""
    n = hi - lo
    return pa.table(
        {
            "event_id": np.arange(seq0 + lo, seq0 + hi, dtype=np.int64),
            "ts": pa.array(deposits["ts_us"][lo:hi], type=pa.timestamp("us")),
            "user_id": deposits["wallet"][lo:hi],
            "event_type": pa.array(["purchase"] * n, type=pa.string()),
            "value": deposits["amount"][lo:hi],
            "props": pa.array([f'{{"k": {i % 97}}}' for i in range(lo, hi)], type=pa.string()),
        },
        schema=SCHEMA,
    )


def stage(table: pa.Table, path: str, due: float) -> None:
    """Write one file in the staging dir and stamp its mtime with its due
    time."""
    pq.write_table(table, path)
    os.utime(path, (due, due))


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--mode", choices=("backlog", "live"), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True, help="source directory the stream reads")
    p.add_argument("--stage", required=True, help="staging directory, same filesystem")
    p.add_argument("--log", required=True, help="JSON line per published file")
    p.add_argument("--files", type=int, required=True)
    p.add_argument("--rows-per-file", type=int, required=True)
    p.add_argument("--wallets", type=int, required=True)
    p.add_argument("--zipf", type=float, default=0.0)
    p.add_argument("--cross-share", type=float, default=0.0)
    p.add_argument("--ooo-share", type=float, default=0.0)
    p.add_argument("--span-s", type=float, required=True, help="event-time span")
    p.add_argument("--seq0", type=int, default=0, help="event id of the first row")
    p.add_argument("--files-per-s", type=float, default=0.0, help="live mode rate")
    p.add_argument("--prefix", default="dep")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    a = parse_args(argv)
    deposits = make_deposits(
        a.seed, a.files * a.rows_per_file, a.wallets, a.zipf,
        a.cross_share, a.ooo_share, a.span_s,
    )
    os.makedirs(a.out, exist_ok=True)
    os.makedirs(a.stage, exist_ok=True)
    start = time.time() + LEAD_S
    with open(a.log, "w") as log:
        for i in range(a.files):
            lo, hi = i * a.rows_per_file, (i + 1) * a.rows_per_file
            name = f"{a.prefix}-{i:06d}.parquet"
            tmp = os.path.join(a.stage, name)
            due = start + i / a.files_per_s if a.mode == "live" else time.time()
            stage(file_table(deposits, lo, hi, a.seq0), tmp, due)
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(tmp, os.path.join(a.out, name))
            renamed = time.time()
            log.write(json.dumps({"i": i, "name": name, "rows": hi - lo,
                                  "due": due, "renamed": renamed}) + "\n")
            log.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
