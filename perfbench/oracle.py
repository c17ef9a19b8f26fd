"""Independent answers the benchmark checks the program against: DuckDB
over the generated input files and a plain-Python replay of the
reference detector rule."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

#: the reference rule's constants (threshold and rolling period)
THRESHOLD = 10_000.0
PERIOD_S = 120


def replay_detector(deposits: list[tuple[int, float]]) -> list[bool]:
    """The reference detector over one wallet's deposits in arrival order,
    each ``(event_time_s, amount)``; returns the flag state after each.

    Add the amount; open a period on the first deposit; when more than
    120 s have passed since the period opened, reset the period AND the
    received sum, which discards the deposit that triggered the reset;
    flag while the sum is at least 10,000 inside an open period."""
    start, received, out = 0, 0.0, []
    for now, amount in deposits:
        received += amount
        if start == 0:
            start = now
        elif now - start > PERIOD_S:
            start, received = 0, 0.0
        out.append(received >= THRESHOLD and start != 0)
    return out


def load_deposits(pattern: str) -> pd.DataFrame:
    """All generated deposits in arrival order: wallet_id (string, as the
    program keys it), amount, event time in whole seconds, seq."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"""SELECT CAST(user_id AS VARCHAR) AS wallet_id, value AS amount,
                       CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS now_s,
                       event_id AS seq
                FROM read_parquet('{pattern}') ORDER BY seq"""
        ).fetchdf()
    finally:
        con.close()


class WalletOracle:
    """Per-wallet balance, prefix sums and exact-detector flag state."""

    def __init__(self, deposits: pd.DataFrame):
        self.deposits = deposits
        self.prefix: dict[str, np.ndarray] = {}
        self.flagged: dict[str, bool] = {}
        self.ever_flagged: dict[str, bool] = {}
        for wallet, g in deposits.groupby("wallet_id", sort=False):
            amounts = g["amount"].to_numpy()
            self.prefix[wallet] = np.concatenate([[0.0], np.cumsum(amounts)])
            flags = replay_detector(list(zip(g["now_s"].tolist(), amounts.tolist())))
            self.flagged[wallet] = flags[-1]
            self.ever_flagged[wallet] = any(flags)

    def balance(self, wallet: str) -> float:
        p = self.prefix.get(wallet)
        return float(p[-1]) if p is not None else 0.0

    def served_prefix(self, wallet: str, balance: float) -> int | None:
        """Number of the wallet's deposits (in arrival order) whose sum is
        ``balance``; None if no prefix sums to it (a wrong answer)."""
        p = self.prefix.get(wallet, np.zeros(1))
        hit = np.flatnonzero(np.isclose(p, balance, rtol=1e-9, atol=1e-6))
        return int(hit[-1]) if hit.size else None

    def cross_share(self) -> float:
        return sum(self.ever_flagged.values()) / max(len(self.ever_flagged), 1)


def windowed_crossers(deposits: pd.DataFrame, period_s: int = PERIOD_S) -> set[str]:
    """Wallets with some aligned event-time window of ``period_s`` whose
    deposits sum to at least the threshold: the only wallets the windowed
    detector may ever flag."""
    win = deposits["now_s"] // period_s
    sums = deposits.groupby([deposits["wallet_id"], win])["amount"].sum()
    return set(sums[sums >= THRESHOLD].index.get_level_values(0))


# --- registry query results --------------------------------------------------


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, float):
        return round(v, 6)
    return v


def canonical(df: pd.DataFrame) -> list[str]:
    """Order-insensitive, name-sensitive form of a result frame, floats
    rounded to 6 places (the registry oracles round to 4)."""
    df = df[sorted(df.columns)]
    return sorted(str(tuple(_cell(v) for v in r)) for r in df.itertuples(index=False, name=None))


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    return (
        sorted(got.columns) == sorted(want.columns)
        and len(got) == len(want)
        and canonical(got) == canonical(want)
    )


def table_oracle(table_dir: str, names: list[str]) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")
    return con
