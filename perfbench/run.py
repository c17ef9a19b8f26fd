"""The repository's benchmark: the wallet service's streaming and read
paths, and the batch curation queries, driven through the public API
(``Topology``, ``ServingTables``, ``registry.QUERIES``,
``session.get_spark``).

    python3 perfbench/run.py --workload wallet_drain --seed 1 --seconds 12 --trace 0

Workloads (inputs are set in ``perfbench/workloads.json``):

* ``wallet_drain`` - a seeded backlog drained by the exact-semantics
  topology (availableNow), then a read-only closed-loop ``/check`` phase.
* ``wallet_live`` - a separate generator process publishes files on an
  open-loop schedule into the default topology (processingTime trigger)
  while one closed-loop ``/check`` client reads beside the writers.  Not
  in BENCHMARK.json: ``ServingTables.read`` repairs the directory the
  writer is swapping, so the collector query dies in its first live
  batch and every run is incorrect.
* ``curate_batch`` - a fixed list of registry queries over seeded tables.

Every run checks the program's answers against independent oracles
(DuckDB, a replay of the reference detector rule).  Report lines go to
stdout first; the last line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics (from spans around the calls into
each layer) with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probe  # noqa: E402
from probe import median, percentile  # noqa: E402

GEN = os.path.join(HERE, "gen.py")
#: /check calls made during set-up, so the read path is compiled before
#: the timed checks start (check latency still falls for ~15 s after)
WARM_CHECKS = 16

#: end-to-end metrics, the same names on every workload:
#: peak_rss_mb is the most resident memory (PSS, so pages shared between
#: forked workers count once) the process tree held; the JVM heap is
#: committed up front, so this sees off-heap growth (state store, Python
#: workers, metaspace) and not objects on the heap, which the per-layer
#: mem.jvm_heap_after_gc_peak_mb shows;
#: latency_ms is the time of one request, the median /check latency
#: (wallet workloads) or the mean query time over the list (curate_batch,
#: whose queries differ too much for a median of them to be steady);
#: result_s is the time from input to served result: median freshness of
#: the files both queries committed (wallet_live), backlog drain time
#: (wallet_drain) or the whole query list (curate_batch); a run whose
#: streaming queries died or left files uncommitted is not correct
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_ms": "ms",
    "result_s": "s",
}


def per_layer_names(cfg: dict) -> dict[str, str]:
    """Every per-layer metric with its unit; the names are listed in
    BENCHMARK.json in the same order."""
    names = {
        "session.start_s": "s",
        "source.collector.rows_per_deposit": "ratio",
        "source.detector.rows_per_deposit": "ratio",
        "source.wait_p50_s": "s",
        "batch.collector.count": "count",
        "batch.detector.count": "count",
        "batch.collector.trigger_p50_ms": "ms",
        "batch.detector.trigger_p50_ms": "ms",
        "batch.planning_p50_ms": "ms",
        "batch.wal_commit_p50_ms": "ms",
        "batch.latest_offset_p50_ms": "ms",
        "detector.update_ms": "ms",
        "detector.commit_ms": "ms",
        "detector.state_rows": "count",
        "detector.state_mb": "MB",
        "serving.balance_sink_p50_ms": "ms",
        "serving.flags_sink_p50_ms": "ms",
        "serving.sink_busy_frac": "ratio",
        "serving.jobs_per_sink_call": "count",
        "serving.jobs_per_check": "count",
        "serving.table_files": "count",
        "serving.table_mb": "MB",
    }
    for q in cfg["curate_batch"]["queries"]:
        names[f"query.{q}_s"] = "s"
    for layer in cfg["curate_batch"]["layers"]:
        names[f"layer.{layer}_s"] = "s"
    names.update({
        "mem.jvm_peak_mb": "MB",
        "mem.pyworker_peak_mb": "MB",
        "mem.jvm_heap_after_gc_peak_mb": "MB",
        "trace.overhead_frac": "ratio",
    })
    return names


class Run:
    """State of one benchmark run: arguments, config, work dir, session,
    tracer, and what the workload reports back."""

    def __init__(self, args: argparse.Namespace, cfg: dict):
        self.args = args
        self.cfg = cfg
        self.work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
        self.spark = None
        self.tracer = probe.Tracer(False)
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.report: list[tuple[str, float, str, int]] = []
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.errors: list[str] = []
        self.procs: list[subprocess.Popen] = []
        self.mem = probe.MemSampler()

    def say(self, name: str, value: float, unit: str, samples: int) -> None:
        self.report.append((name, value, unit, samples))

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        if len(self.errors) < 20:
            self.errors.append(what)

    # --- session -----------------------------------------------------------

    def start_session(self) -> None:
        from depositaja_spark.session import get_spark

        sc_cfg = self.cfg["spark"]
        t = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{sc_cfg['cores']}]",
            shuffle_partitions=self.cfg[self.args.workload].get(
                "shuffle_partitions", sc_cfg["shuffle_partitions"]),
            extra_conf={
                # a heap committed and touched up front, so the process's
                # memory does not depend on when the collector grows it
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.tmp} -Xms{sc_cfg['driver_mem']} -XX:+AlwaysPreTouch"
                ),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t
        self.mem.heap = probe.heap_after_gc(self.spark.sparkContext._jvm)
        self.tracer = probe.Tracer(bool(self.args.trace), self.spark.sparkContext)

    @property
    def tmp(self) -> str:
        return os.path.join(self.work, "tmp")

    def stop_session(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=20)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait(timeout=10)

    # --- generator ---------------------------------------------------------

    def gen_args(self, mode: str, seed: int, out: str, log: str, files: int,
                 rows: int, wl: dict, span_s: float, seq0: int, prefix: str) -> list[str]:
        return [
            sys.executable, GEN, "--mode", mode, "--seed", str(seed),
            "--out", out, "--stage", os.path.join(self.work, "stage"), "--log", log,
            "--files", str(files), "--rows-per-file", str(rows),
            "--wallets", str(wl["wallets"]), "--zipf", str(wl["zipf"]),
            "--cross-share", str(wl["cross_share"]), "--ooo-share", str(wl["ooo_share"]),
            "--span-s", str(span_s), "--seq0", str(seq0), "--prefix", prefix,
        ]

    def run_gen(self, argv: list[str]) -> None:
        subprocess.run(argv, check=True, timeout=120)


def read_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def traced_sinks(run: Run, topo, parent: dict) -> None:
    """Wrap the serving sinks the topology will attach, so each sink call
    is a span (with its job count) under the measured phase."""
    if not run.tracer.enabled:
        return
    for attr, name in (("balance_sink", "serving.balance_sink"), ("flags_sink", "serving.flags_sink")):
        make = getattr(topo.serving, attr)

        def traced(make=make, name=name):
            inner = make()

            def sink(batch, epoch_id):
                with run.tracer.span(name, parent=parent.get("id")):
                    inner(batch, epoch_id)

            return sink

        setattr(topo.serving, attr, traced)


def checked(run: Run, topo, wallet: str) -> tuple[float, dict | None, str | None]:
    """One ``/check`` call: (seconds, answer or None, error or None)."""
    t = time.perf_counter()
    try:
        with run.tracer.span("serving.check"):
            ans = topo.check(wallet)
        return time.perf_counter() - t, ans, None
    except Exception as e:  # every error is a failed check, never retried
        return time.perf_counter() - t, None, f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"


def streaming_layers(run: Run, topo, qs: dict, deposits: int, files: list[dict],
                     fb: dict, phase_s: float) -> None:
    """Per-layer metrics read from the queries' progress, the sink and
    check spans, and the serving directories."""
    L = run.layer
    allb = {name: probe.batches(q) for name, q in qs.items()}
    for name, bs in allb.items():
        L[f"source.{name}.rows_per_deposit"] = sum(b["rows"] for b in bs) / max(deposits, 1)
        L[f"batch.{name}.count"] = len(bs)
        L[f"batch.{name}.trigger_p50_ms"] = median(
            [b["dur"].get("triggerExecution", 0) for b in bs if b["rows"] > 0])
    withrows = [b for bs in allb.values() for b in bs if b["rows"] > 0]
    L["batch.planning_p50_ms"] = median([b["dur"].get("queryPlanning", 0) for b in withrows])
    L["batch.wal_commit_p50_ms"] = median([b["dur"].get("walCommit", 0) for b in withrows])
    L["batch.latest_offset_p50_ms"] = median(
        [b["dur"].get("latestOffset", 0) for bs in allb.values() for b in bs])
    ops = [op for b in allb.get("detector", []) for op in b["state"]]
    L["detector.update_ms"] = sum(op.get("allUpdatesTimeMs", 0) for op in ops)
    L["detector.commit_ms"] = sum(op.get("commitTimeMs", 0) for op in ops)
    L["detector.state_rows"] = max([op.get("numRowsTotal", 0) for op in ops] or [0])
    L["detector.state_mb"] = max([op.get("memoryUsedBytes", 0) for op in ops] or [0]) / 2**20
    waits = [b["start"] - f["due"] for name in qs for f, b in zip(files, fb[name]) if b]
    L["source.wait_p50_s"] = median(waits)

    tr = run.tracer
    sinks = tr.by_name("serving.balance_sink") + tr.by_name("serving.flags_sink")
    L["serving.balance_sink_p50_ms"] = 1e3 * median(
        [s["end"] - s["start"] for s in tr.by_name("serving.balance_sink")])
    L["serving.flags_sink_p50_ms"] = 1e3 * median(
        [s["end"] - s["start"] for s in tr.by_name("serving.flags_sink")])
    L["serving.sink_busy_frac"] = sum(s["end"] - s["start"] for s in sinks) / max(phase_s, 1e-9)
    L["serving.jobs_per_sink_call"] = float(np.mean([s["jobs"] for s in sinks])) if sinks else 0.0
    cks = tr.by_name("serving.check")
    L["serving.jobs_per_check"] = float(np.mean([s["jobs"] for s in cks])) if cks else 0.0
    n, mb = probe.dir_stats(topo.serving.root)
    L["serving.table_files"], L["serving.table_mb"] = n, mb


def await_queries(qs: dict, timeout: float) -> None:
    """Wait for availableNow queries to finish; a query that dies is
    recorded by ``query_status``, not raised here."""
    from pyspark.errors import StreamingQueryException

    deadline = time.time() + timeout
    for q in qs.values():
        try:
            q.awaitTermination(max(deadline - time.time(), 0.001))
        except StreamingQueryException:
            pass


def final_table(run: Run, topo, name: str, cols: list[str]):
    """A serving table as pandas once the writers have stopped; None if it
    has no rows yet or cannot be read (recorded as a failure)."""
    try:
        df = topo.serving.read(name)
        return df.select(*cols).toPandas() if df is not None else None
    except Exception as e:  # an unreadable table serves nothing
        run.fail(f"serving table {name} unreadable: {str(e).splitlines()[0][:160]}")
        run.attempted += 1
        return None


def count_unserved(run: Run, orc, served: dict) -> int:
    """Deposits missing from a final balance table.  A wallet's balance
    must be the sum of a prefix of its deposits in arrival order; the
    deposits after that prefix are unserved.  A balance that is no such
    sum is a wrong answer."""
    unserved = 0
    for w, p in orc.prefix.items():
        k = orc.served_prefix(w, served.get(w, 0.0))
        if k is None:
            run.correct = False
            run.fail(f"balance of {w} is no prefix sum of its deposits")
            k = 0
        unserved += len(p) - 1 - k
    if unserved:
        run.fail(f"{unserved} deposits missing from the balance table", unserved)
    return unserved


def query_status(run: Run, qs: dict) -> None:
    """A streaming query that stopped with an exception is a failure."""
    for name, q in qs.items():
        exc = q.exception()
        if exc is not None:
            run.fail(f"query {name} died: {str(exc).splitlines()[0][:200]}")
            run.attempted += 1


# --- wallet_drain ------------------------------------------------------------


def wallet_drain(run: Run) -> None:
    from depositaja_spark.streaming.topology import Topology
    from gen import WALLET_BASE
    from oracle import WalletOracle, load_deposits

    wl = run.cfg["wallet_drain"]
    seed = run.args.seed
    t_setup = time.perf_counter()
    run.start_session()
    warm_src, src = os.path.join(run.work, "warm", "src"), os.path.join(run.work, "drain", "src")
    run.run_gen(run.gen_args("backlog", seed + 7919, warm_src, os.path.join(run.work, "warm.jsonl"),
                         1, wl["warm_rows"], {**wl, "cross_share": 0.0}, 300.0, 0, "warm"))
    run.run_gen(run.gen_args("backlog", seed, src, os.path.join(run.work, "gen.jsonl"),
                         wl["files"], wl["rows_per_file"], wl, wl["span_s"], 0, "dep"))
    # warm-up: the same topology over a small backlog
    warm = Topology(run.spark, warm_src, os.path.join(run.work, "warm", "w"), exact_semantics=True)
    await_queries(dict(enumerate(warm.start())), 120)
    warm.stop()
    setup_s = time.perf_counter() - t_setup

    files = read_log(os.path.join(run.work, "gen.jsonl"))
    n_dep = sum(f["rows"] for f in files)
    topo = Topology(run.spark, src, os.path.join(run.work, "drain", "w"), exact_semantics=True)
    phase: dict = {}
    traced_sinks(run, topo, phase)
    with run.tracer.span("drain") as sid:
        phase["id"] = sid
        t_start = time.time()
        for f in files:
            f["due"] = t_start
        qs = dict(zip(("collector", "detector"), topo.start()))
        await_queries(qs, 150)
        drain_s = time.time() - t_start
    still = [n for n, q in qs.items() if q.isActive]
    topo.stop()
    query_status(run, qs)
    for n in still:
        run.fail(f"query {n} did not finish the backlog within 150 s")

    # per-file result time: both queries committed the batch holding it;
    # a file never committed has only the lower bound t_end - due, and
    # the drain is then not measured (nor correct)
    fb = {n: probe.file_batches([f["renamed"] for f in files], probe.batches(q)) for n, q in qs.items()}
    t_end = time.time()
    result, censored = [], 0
    for i, f in enumerate(files):
        bs = [fb[n][i] for n in qs]
        done = all(b is not None for b in bs)
        result.append((max(b["commit"] for b in bs) if done else t_end) - f["due"])
        censored += not done
    if censored or still or any(q.exception() is not None for q in qs.values()):
        run.correct = False
        run.errors.append(f"drain not measured: {censored} of {len(files)} files never committed")

    # final serving state against DuckDB sums and the detector replay
    orc = WalletOracle(load_deposits(os.path.join(src, "*.parquet")))
    bal_pd = final_table(run, topo, "balance", ["wallet_id", "balance"])
    flag_pd = final_table(run, topo, "flags", ["wallet_id", "flagged"])
    served = dict(zip(bal_pd.wallet_id, bal_pd.balance)) if bal_pd is not None else {}
    flagged = dict(zip(flag_pd.wallet_id, flag_pd.flagged)) if flag_pd is not None else {}
    unserved = count_unserved(run, orc, served)
    wrong_flags = sum(bool(flagged.get(w, False)) != f for w, f in orc.flagged.items())
    if wrong_flags:
        run.correct = False
        run.fail(f"{wrong_flags} wallets flagged differently from the replay", wrong_flags)
    run.attempted += n_dep + len(orc.flagged)

    # read-only /check phase, one closed-loop client, after untimed checks
    # on the drained tables (counted as set-up): the first calls after a
    # drain are slower, and a slow run would time fewer later ones
    rng = np.random.default_rng(seed + 1)
    known = sorted(orc.prefix)
    t_warm = time.perf_counter()
    for w in known[:WARM_CHECKS]:
        checked(run, topo, w)
    setup_s += time.perf_counter() - t_warm
    lat, n_bad = [], 0
    with run.tracer.span("checks"):
        t_end_checks = time.perf_counter() + run.args.seconds
        while time.perf_counter() < t_end_checks:
            if rng.random() < wl["unknown_check_share"]:
                w = str(int(rng.integers(1, WALLET_BASE)))  # never generated
            else:
                w = known[int(rng.integers(0, len(known)))]
            dt, ans, err = checked(run, topo, w)
            lat.append(dt)
            if err is not None:
                run.fail(f"check({w}): {err}")
                n_bad += 1
            elif (not np.isclose(ans["balance"], orc.balance(w), rtol=1e-9, atol=1e-6)
                  or ans["above_threshold"] != orc.flagged.get(w, False)):
                run.correct = False
                run.fail(f"check({w}) = {ans}, oracle {orc.balance(w)}/{orc.flagged.get(w, False)}")
                n_bad += 1
    run.attempted += len(lat)

    run.e2e.update({
        "setup_s": setup_s,
        "latency_ms": 1e3 * median(lat),
        "result_s": median(result),
    })
    run.say("drain_deposits_per_s", n_dep / drain_s, "1/s", n_dep)
    run.say("check_p50_ms", 1e3 * median(lat), "ms", len(lat))
    run.say("check_p95_ms", 1e3 * percentile(lat, 95), "ms", len(lat))
    run.say("check_fail_frac", n_bad / max(len(lat), 1), "ratio", len(lat))
    run.say("deposit_unserved_frac", unserved / n_dep, "ratio", n_dep)
    run.say("gen.cross_share", orc.cross_share(), "ratio", len(orc.flagged))
    if run.tracer.enabled:
        streaming_layers(run, topo, qs, n_dep, files, fb, drain_s)


# --- wallet_live -------------------------------------------------------------


def wallet_live(run: Run) -> None:
    from depositaja_spark.streaming.topology import Topology
    from gen import WALLET_BASE, wallet_weights
    from oracle import WalletOracle, load_deposits, windowed_crossers

    wl = run.cfg["wallet_live"]
    seed = run.args.seed
    rows = max(1, round(wl["deposits_per_s"] / wl["files_per_s"]))
    n_files = max(1, round(run.args.seconds * wl["files_per_s"]))
    span_s = n_files / wl["files_per_s"] * wl["event_speed"]
    src = os.path.join(run.work, "src")

    t_setup = time.perf_counter()
    run.start_session()
    # primer: the file the stream's schema is probed from; also the warm-up
    run.run_gen(run.gen_args("backlog", seed + 7919, src, os.path.join(run.work, "primer.jsonl"),
                             1, rows, {**wl, "cross_share": 0.0}, 1.0, 0, "primer"))
    topo = Topology(run.spark, src, os.path.join(run.work, "w"))
    phase: dict = {}
    traced_sinks(run, topo, phase)
    qs = dict(zip(("collector", "detector"), topo.start({"processingTime": wl["trigger"]})))
    deadline = time.time() + 90
    while time.time() < deadline and not all(
        any(b["rows"] > 0 for b in probe.batches(q)) or not q.isActive for q in qs.values()
    ):
        time.sleep(0.05)
    for i in range(WARM_CHECKS):  # no writer runs between primer batches
        checked(run, topo, str(WALLET_BASE + i))
    setup_s = time.perf_counter() - t_setup

    log = os.path.join(run.work, "gen.jsonl")
    argv = run.gen_args("live", seed, src, log, n_files, rows, wl, span_s, rows, "dep")
    checks: list[tuple[str, float, float, float, dict | None, str | None]] = []
    rng = np.random.default_rng(seed + 1)
    weights = wallet_weights(wl["wallets"], wl["zipf"])
    with run.tracer.span("live") as sid:
        phase["id"] = sid
        gen = subprocess.Popen(argv + ["--files-per-s", str(wl["files_per_s"])])
        run.procs.append(gen)

        observing = threading.Event()
        observing.set()

        def client():
            while observing.is_set():
                if rng.random() < wl["unknown_check_share"]:
                    w = str(int(rng.integers(1, WALLET_BASE)))
                else:
                    w = str(WALLET_BASE + int(rng.choice(wl["wallets"], p=weights)))
                t0 = time.time()
                dt, ans, err = checked(run, topo, w)
                checks.append((w, t0, time.time(), dt, ans, err))

        th = threading.Thread(target=client, name="check-client", daemon=True)
        th.start()
        try:
            gen.wait(timeout=run.args.seconds + 60)
            if gen.returncode != 0:
                raise RuntimeError(f"deposit generator exited with {gen.returncode}")
            live_end = time.time()
            files = read_log(log)
            start = files[0]["due"]
            last = max(f["renamed"] for f in files)
            # tail: until every live query has run a batch that listed the last file
            deadline = time.time() + wl["tail_timeout_s"]
            while time.time() < deadline and not all(
                not q.isActive or any(b["listed"] >= last for b in probe.batches(q))
                for q in qs.values()
            ):
                time.sleep(0.05)
            t_obs_end = time.time()
        finally:
            observing.clear()
            th.join(timeout=120)
    topo.stop()
    query_status(run, qs)
    phase_s = t_obs_end - start

    # which batch of each query read each file (by rename time)
    fb = {n: probe.file_batches([f["renamed"] for f in files], probe.batches(q)) for n, q in qs.items()}
    # freshness only of files both queries committed; a file never
    # committed has no freshness, only the lower bound t_obs_end - due
    fresh, censored = [], []
    for i, f in enumerate(files):
        bs = [fb[n][i] for n in qs]
        if all(b is not None for b in bs):
            fresh.append(max(b["commit"] for b in bs) - f["due"])
        else:
            censored.append(t_obs_end - f["due"])
    died = [n for n, q in qs.items() if q.exception() is not None]
    measured = not died and len(fresh) >= len(censored)
    if not measured:  # the service stopped serving: its answers are wrong
        run.correct = False
        run.errors.append(f"freshness not measured: {len(censored)} of {len(files)} files "
                          f"never committed, queries died: {died or 'none'}")

    orc = WalletOracle(load_deposits(os.path.join(src, "*.parquet")))
    deps = orc.deposits
    n_dep = len(deps)
    crossers = windowed_crossers(deps)
    # deposit -> index of its file (primer = -1), to bound each check's answer
    file_of = np.where(deps["seq"].to_numpy() < rows, -1, (deps["seq"].to_numpy() - rows) // rows)
    by_wallet = {w: file_of[idx] for w, idx in deps.groupby("wallet_id").indices.items()}
    renamed = np.array([f["renamed"] for f in files])
    col_commit = np.array([b["commit"] if b else np.inf for b in fb["collector"]])
    n_bad, lat = 0, []
    for w, t0, t1, dt, ans, err in checks:
        lat.append(dt)
        if err is not None:
            run.fail(f"check({w}): {err}")
            n_bad += 1
            continue
        fo = by_wallet.get(w, np.zeros(0, dtype=np.int64))
        hi = int(np.sum(fo < np.searchsorted(renamed, t1, side="right")))
        lo = int(np.sum(fo < np.searchsorted(np.minimum.accumulate(col_commit[::-1])[::-1], t0, side="right")))
        k = orc.served_prefix(w, ans["balance"])
        if k is None or not lo <= k <= hi or (ans["above_threshold"] and w not in crossers):
            run.correct = False
            run.fail(f"check({w}) = {ans}, allowed prefix {lo}..{hi}, got {k}")
            n_bad += 1
    run.attempted += len(checks)

    bal_pd = final_table(run, topo, "balance", ["wallet_id", "balance"])
    served = dict(zip(bal_pd.wallet_id, bal_pd.balance)) if bal_pd is not None else {}
    unserved = count_unserved(run, orc, served)
    fl = final_table(run, topo, "flags", ["wallet_id", "flagged"])
    if fl is not None:
        false_flags = set(fl.wallet_id[fl.flagged]) - crossers
        if false_flags:
            run.correct = False
            run.fail(f"{len(false_flags)} wallets flagged without a window over the threshold",
                     len(false_flags))
    run.attempted += n_dep

    late = [1e3 * (f["renamed"] - f["due"]) for f in files]
    run.e2e.update({
        "setup_s": setup_s,
        "latency_ms": 1e3 * median(lat) if lat else 0.0,
        # when not measured: the median lower bound over all files, set by
        # the schedule and the detector's lag at the end (not correct then)
        "result_s": median(fresh) if measured else median(fresh + censored),
    })
    run.say("live_deposits_per_s", (n_dep - rows) / max(live_end - start, 1e-9), "1/s", n_dep - rows)
    if fresh:
        run.say("fresh_p50_s", median(fresh), "s", len(fresh))
        run.say("fresh_p95_s", percentile(fresh, 95), "s", len(fresh))
    run.say("fresh_censored_frac", len(censored) / len(files), "ratio", len(files))
    run.say("result_s_measured", float(measured), "bool", len(files))
    run.say("check_p50_ms", 1e3 * median(lat) if lat else 0.0, "ms", len(lat))
    run.say("check_p95_ms", 1e3 * percentile(lat, 95) if lat else 0.0, "ms", len(lat))
    run.say("check_fail_frac", n_bad / max(len(lat), 1), "ratio", len(lat))
    run.say("deposit_unserved_frac", unserved / max(n_dep, 1), "ratio", n_dep)
    run.say("gen.late_p99_ms", percentile(late, 99), "ms", len(late))
    if run.tracer.enabled:
        streaming_layers(run, topo, qs, n_dep, files, fb, phase_s)


# --- curate_batch --------------------------------------------------------


def curate_batch(run: Run) -> None:
    from depositaja_spark import registry
    import batch_tables
    from oracle import same_result, table_oracle

    cb = run.cfg["curate_batch"]
    names = cb["queries"]
    tdir = os.path.join(run.work, "tables")
    t_setup = time.perf_counter()
    run.start_session()
    batch_tables.write_tables(run.args.seed, cb["sf"], tdir)
    run.spark.range(1000).selectExpr("sum(id)").collect()  # first job: JVM-wide warm-up
    setup_s = time.perf_counter() - t_setup

    # one cold pass: each query is built (which can run jobs: some queries
    # checkpoint eagerly) and collected to pandas under the clock, and the
    # result is checked against its oracle.  Collecting, not the noop sink:
    # the results are small, and executing each query a second time for
    # the oracle does not fit the benchmark's time budget
    con = table_oracle(tdir, cb["tables"])
    times: dict[str, float] = {}
    bad: set[str] = set()
    for n in names:
        t = time.perf_counter()
        try:
            with run.tracer.span(f"query.{n}"):
                got = registry.QUERIES[n](run.spark, tdir).toPandas()
        except Exception as e:  # a failed query is counted, never retried
            bad.add(n)
            run.fail(f"{n}: {type(e).__name__}: {str(e).splitlines()[0][:160]}")
            continue
        finally:
            times[n] = time.perf_counter() - t
        want = con.execute(registry.ORACLES[n]).fetchdf()
        if not same_result(got, want):
            bad.add(n)
            run.correct = False
            run.fail(f"{n}: result differs from its DuckDB oracle ({len(got)} vs {len(want)} rows)")
    con.close()
    run.attempted += len(names)

    total = sum(times.values())
    run.e2e.update({
        "setup_s": setup_s,
        "latency_ms": 1e3 * total / len(names),
        "result_s": total,
    })
    run.say("batch_total_s", total, "s", len(names))
    run.say("query_fail_frac", len(bad) / len(names), "ratio", len(names))
    for n in names:
        run.layer[f"query.{n}_s"] = times[n]
    for layer, qs in cb["layers"].items():
        run.layer[f"layer.{layer}_s"] = sum(times[q] for q in qs)


WORKLOADS = {"wallet_drain": wallet_drain, "wallet_live": wallet_live, "curate_batch": curate_batch}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "depositaja_spark")):
        print(f"perfbench: no depositaja_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    run = Run(args, cfg)
    shutil.rmtree(run.work, ignore_errors=True)
    os.makedirs(run.tmp, exist_ok=True)
    # the JVM and its Python workers import the program from this checkout
    # and keep every temporary file inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = cfg["spark"]["driver_mem"]
    os.environ["SPARK_LOCAL_DIRS"] = run.tmp
    os.environ["TMPDIR"] = run.tmp
    sys.path.insert(0, ROOT)

    stamp = probe.MachineStamp()
    rss = run.mem.start()
    t_run = time.perf_counter()
    try:
        WORKLOADS[args.workload](run)
    finally:
        for proc in run.procs:
            if proc.poll() is None:
                proc.kill()
            proc.wait(timeout=30)
        peak = rss.stop()
        run.stop_session()
        shutil.rmtree(run.work, ignore_errors=True)
    run.e2e["peak_rss_mb"] = peak["total"]
    run.say("mem.jvm_peak_mb", peak["jvm"], "MB", 1)
    run.say("mem.pyworker_peak_mb", peak["pyworker"], "MB", 1)
    run.say("mem.jvm_heap_after_gc_peak_mb", peak["jvm_heap_after_gc"], "MB", 1)
    run.layer["mem.jvm_peak_mb"] = peak["jvm"]
    run.layer["mem.pyworker_peak_mb"] = peak["pyworker"]
    run.layer["mem.jvm_heap_after_gc_peak_mb"] = peak["jvm_heap_after_gc"]
    run.layer["trace.overhead_frac"] = run.tracer.cost_s / (time.perf_counter() - t_run)

    env = stamp.finish()
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} env={json.dumps(env)}")
    for name, value, unit, n in run.report:
        print(f"{args.workload:13s} {name:28s} {value:14.4f} {unit:6s} n={n}")
    for err in run.errors:
        print(f"FAILED: {err}")
    if args.trace:
        for name, agg in sorted(run.tracer.self_times().items()):
            print(f"span {name:36s} n={agg['count']:5d} total={agg['total_s']:9.3f}s self={agg['self_s']:9.3f}s")
        layer_units = per_layer_names(cfg)
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u} for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": float(run.e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(f"{args.workload:13s} verdict {'correct' if run.correct else 'INCORRECT'}, "
          f"{run.failed} failed of {run.attempted} attempted")
    print(json.dumps({"correct": run.correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
