"""collector_stream: an event-time-ordered receipt replay through
streaming.collector.start_collector, in two phases.

1. Fixed rate, open loop: a generator thread places pre-generated receipt
   files (RECEIPTS_PER_FILE receipts, FILE_S seconds of receipts each) in
   the watched directory on a schedule of RATE receipts/s while both
   collector queries run on their default trigger. Each file's latency
   runs from when it was due to the commit of the batch that wrote it,
   in whichever of the two queries committed it last. The first
   WARM_FILES files go in before the schedule starts and are not timed.
2. Backlog drain: the remaining files land at once and the collector
   restarts from the same checkpoint with ``availableNow``. One backlog
   of ~2,700 receipts, so the restart's fixed cost is paid once.

A StreamingQueryListener records every batch in both modes; the latency
needs its commit times."""

from __future__ import annotations

import bisect
import itertools
import os
import shutil
import threading
import time

from perfbench import gen
from perfbench.common import CACHE, Ctx, setup
from perfbench.sparkmetrics import ProgressListener
from perfbench.stats import median, tail

#: receipts/s in phase 1, far enough under the drain rate that a batch's
#: time stays mostly fixed cost even when the host runs at half speed
RATE = 60
RECEIPTS_PER_FILE = 6
FILE_S = RECEIPTS_PER_FILE / RATE
PHASE1_FILES = 40  # four seconds of receipts
#: phase 1 files placed before the schedule starts: their batch also
#: initializes the state stores, so they are checked but not timed
WARM_FILES = 5
BACKLOG_FILE_RECEIPTS = 100
N_TX = 1_500  # about 2,950 receipts: 240 for phase 1, the rest in the backlog
PRIME_TX = 100
LATENCY_LIMIT_S = 10.0
#: how long phase 1 waits for the no-data batch after its last data batch
NO_DATA_BATCH_TIMEOUT_S = 10.0
COMMIT_TIMEOUT_S = 90.0


def _place(src_dir: str, in_dir: str, name: str, mtime: float) -> None:
    """Hard-link a generated file into the watched directory (atomic, so
    the source never lists a partial file) with its due time as mtime, so
    the oldest-first listing replays in event-time order."""
    dst = os.path.join(in_dir, name)
    os.link(os.path.join(src_dir, name), dst)
    os.utime(dst, (mtime, mtime))


def _replay(spark, work: str, available_now: bool):
    from mempool_dumpster_spark.streaming.collector import file_stream_source, start_collector

    return start_collector(
        file_stream_source(spark, os.path.join(work, "in")),
        out_dir=os.path.join(work, "out"),
        checkpoint_dir=os.path.join(work, "ckpt"),
        trigger_available_now=available_now,
    )


def _fresh(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "in"))


def _prime(spark, src_dir: str, ledger: dict, work: str) -> None:
    _fresh(work)
    now = time.time()
    for k, (name, _) in enumerate(ledger["files"]):
        _place(src_dir, os.path.join(work, "in"), name, now - 60 + k)
    _replay(spark, work, True).await_all()


def _commit_times(records: list[dict], cum_rows: list[int]) -> list[float | None]:
    """Commit time of the batch that brought each file's last receipt in:
    files are read whole and oldest first, so file k is done once the
    query's cumulative input rows reach cum_rows[k]."""
    busy = [r for r in records if r["rows"]]
    ends = list(itertools.accumulate(r["rows"] for r in busy))
    times = [r["commit"] for r in busy]
    out = []
    for c in cum_rows:
        i = bisect.bisect_left(ends, c)
        out.append(times[i] if i < len(times) else None)
    return out


def _read_outputs(spark, out: str) -> dict:
    from pyspark.sql import functions as F

    def csv(sub: str, schema: str):
        return spark.read.schema(schema).csv(os.path.join(out, sub))

    sl = csv("sourcelog", "timestamp_ms long, hash string, source string")
    txs = csv("transactions", "timestamp_ms long, hash string, raw_tx string")
    trash = csv("trash", "timestamp_ms long, hash string, source string, reason string, notes string")
    tx = txs.agg(F.count(F.lit(1)).alias("rows"), F.count_distinct("hash").alias("hashes")).first()
    tr = trash.agg(
        F.count(F.lit(1)).alias("rows"), F.count_distinct("timestamp_ms", "source").alias("distinct")
    ).first()
    return {
        "sourcelog_rows": sl.count(),
        "tx_rows": tx["rows"],
        "tx_hashes": tx["hashes"],
        "trash_rows": tr["rows"],
        "trash_distinct": tr["distinct"],
    }


def run(ctx: Ctx) -> dict:
    sizes = ((PHASE1_FILES, RECEIPTS_PER_FILE), BACKLOG_FILE_RECEIPTS)
    src, ledger = gen.stream_day(ctx.seed, N_TX, *sizes, CACHE, ctx.procs)
    prime_src, prime_ledger = gen.stream_day(ctx.seed, PRIME_TX, (0, 0), 50, CACHE, ctx.procs)
    files1, files2 = ledger["files"][:PHASE1_FILES], ledger["files"][PHASE1_FILES:]
    n1 = sum(n for _, n in files1)
    n2 = sum(n for _, n in files2)
    ctx.info["input"] = {k: ledger[k] for k in ("receipts", "valid_receipts", "valid_unique", "garbage")}
    ctx.info["input"].update(phase1_receipts=n1, backlog_receipts=n2)
    work = os.path.join(CACHE, "out", "collector_stream")

    setup_s = setup(ctx, lambda spark: _prime(spark, prime_src, prime_ledger, work + "-prime"))
    spark, tr = ctx.spark, ctx.tracer
    listener = ProgressListener()
    spark.streams.addListener(listener)
    _fresh(work)
    in_dir = os.path.join(work, "in")

    # --- phase 1: fixed rate, open loop ---
    cum = list(itertools.accumulate(n for _, n in files1))
    due = [0.0] * len(files1)
    sent = [0.0] * len(files1)

    def generate(t0: float) -> None:
        for k in range(WARM_FILES, len(files1)):
            due[k] = t0 + (k - WARM_FILES) * FILE_S
            time.sleep(max(0.0, due[k] - time.time()))
            _place(src, in_dir, files1[k][0], due[k])
            sent[k] = time.time()

    def wait_committed(ids: list[str], rows: int) -> None:
        deadline = time.time() + COMMIT_TIMEOUT_S
        while min(listener.committed_rows(q) for q in ids) < rows and time.time() < deadline:
            time.sleep(0.05)

    def wait_no_data_batch(qid: str) -> None:
        # the watermark's no-data batch runs after the last data batch;
        # stopped before it ends, it reruns first in the drain, whose wall
        # would then depend on when phase 1 stopped
        deadline = time.time() + NO_DATA_BATCH_TIMEOUT_S
        while time.time() < deadline:
            recs = listener.records(qid)
            if recs and recs[-1]["rows"] == 0:
                return
            time.sleep(0.05)

    with tr.span("streaming.fixed_rate", "phase1"):
        now = time.time()
        for k in range(WARM_FILES):
            due[k] = sent[k] = now
            _place(src, in_dir, files1[k][0], now - WARM_FILES + k)
        with tr.span("streaming.start_collector", "phase1"):
            qs = _replay(spark, work, False)
        ids = [str(q.id) for q in (qs.sourcelog, qs.transactions)]
        wait_committed(ids, cum[WARM_FILES - 1])
        gen_thread = threading.Thread(target=generate, args=(time.time() + FILE_S,))
        gen_thread.start()
        gen_thread.join()
        wait_committed(ids, n1)
        wait_no_data_batch(ids[1])
        qs.stop_all()
    phase1_runs = {str(q.runId) for q in (qs.sourcelog, qs.transactions)}
    phase1 = {q: [r for r in listener.records(q) if r["run"] in phase1_runs] for q in ids}

    per_query = [_commit_times(phase1[q], cum) for q in ids]
    lat, late = [], 0
    for k, (_, n) in enumerate(files1):
        commits = [c[k] for c in per_query]
        ctx.attempted += n
        if None in commits:
            ctx.fail(n, f"file {k} never committed")
            continue
        if k < WARM_FILES:
            continue
        lat.append(max(commits) - due[k])
        if lat[-1] > LATENCY_LIMIT_S:
            late += n
    ctx.fail(late, f"{late} receipts in files over the {LATENCY_LIMIT_S} s latency limit")

    # --- phase 2: the backlog, drained by one availableNow restart ---
    now = time.time()
    for k, (name, _) in enumerate(files2):
        _place(src, in_dir, name, now - len(files2) + k)
    ctx.attempted += n2
    with tr.span("streaming.drain", "phase2"):
        drain_t0 = time.time()
        t0 = time.perf_counter()
        _replay(spark, work, True).await_all()
        drain_s = time.perf_counter() - t0
    spark.streams.removeListener(listener)

    out = _read_outputs(spark, os.path.join(work, "out"))
    ctx.info["outputs"] = out
    lost = (
        abs(out["sourcelog_rows"] - ledger["valid_receipts"])
        + abs(out["tx_hashes"] - ledger["valid_unique"])
        + abs(out["trash_distinct"] - ledger["garbage"])
    )
    ctx.check(lost == 0, f"exactly-once ledgers off by {lost} rows: {out}", n=lost)

    p50 = median(lat)
    tail_s, tail_pct = tail(lat)
    gen_lag = max(s - d for s, d in zip(sent[WARM_FILES:], due[WARM_FILES:]))
    ctx.info.update(samples=len(lat), tail_percentile=tail_pct, drain_s=drain_s)
    ctx.info["figures"] = {
        "stream_latency_p50_s": (p50, "s"),
        "stream_latency_tail_s": (tail_s, "s"),
        "stream_drain_receipts_per_s": (n2 / drain_s, "receipts/s"),
    }
    if ctx.trace:
        ctx.info["trace"] = {
            "overhead_share": None,
            "why": "the listener runs untraced too and spans wrap only the phases, "
            "so the traced run does the untraced run's work",
        }
    _layer_metrics(ctx, listener, ids, phase1_runs, cum, sent, out, drain_s)
    ctx.info["drain_batches"] = [
        {
            "query": "transactions" if q == ids[1] else "sourcelog",
            "rows": r["rows"],
            "since_drain_start_s": r["start"] - drain_t0,
            "dur_ms": r["dur_ms"],
        }
        for q in ids
        for r in listener.records(q)
        if r["run"] not in phase1_runs
    ]
    ctx.layer["generator.lag_max_s"] = gen_lag
    ctx.layer["generator.receipts_sent"] = n1 - cum[WARM_FILES - 1]
    return {
        "setup_s": setup_s,
        "throughput_per_s": n2 / drain_s,
        "latency_p50_s": p50,
        "latency_tail_s": tail_s,
    }


def _layer_metrics(ctx, listener, ids, phase1_runs, cum, sent, out, drain_s) -> None:
    L = ctx.layer
    q_first = ids[1]  # dedup → parse → foreachBatch
    every = listener.records(q_first)
    fixed = [r for r in every if r["run"] in phase1_runs and r["rows"]]
    drain = [r for r in every if r["run"] not in phase1_runs]
    if fixed:
        L["streaming.batches"] = len(fixed)
        L["streaming.input_rows"] = sum(r["rows"] for r in fixed)
        L["streaming.rows_per_batch"] = L["streaming.input_rows"] / len(fixed)
        L["streaming.batch_s"] = median([r["dur_ms"].get("triggerExecution", 0) / 1e3 for r in fixed])
        L["streaming.query_planning_s"] = median([r["dur_ms"].get("queryPlanning", 0) / 1e3 for r in fixed])
        L["streaming.wal_commit_s"] = median([r["dur_ms"].get("walCommit", 0) / 1e3 for r in fixed])
        L["streaming.state_commit_s"] = median([r["state_commit_ms"] / 1e3 for r in fixed])
        # files placed but not yet committed when each batch started
        backlog, done_rows = 0, 0
        for r in fixed:
            placed = sum(1 for s in sent if s <= r["start"])
            done = bisect.bisect_right(cum, done_rows)
            backlog = max(backlog, placed - done)
            done_rows += r["rows"]
        L["streaming.backlog_files_max"] = backlog
    L["streaming.state_rows_peak"] = max((r["state_rows"] for r in every), default=0)
    L["streaming.state_mem_bytes_peak"] = max((r["state_mem"] for r in every), default=0)
    L["streaming.rows_dropped_by_watermark"] = sum(r["dropped"] for r in every)
    L["streaming.add_batch_s"] = sum(r["dur_ms"].get("addBatch", 0) / 1e3 for r in drain)
    # how much of each phase is per-row work: the drain's addBatch share
    # of its wall, and a phase 1 batch's time against its rows
    ctx.info["per_row_share"] = {
        "streaming.add_batch_s / drain": L["streaming.add_batch_s"] / drain_s,
        "phase1_batch_s": L.get("streaming.batch_s"),
        "phase1_rows_per_batch": L.get("streaming.rows_per_batch"),
    }
    L["streaming.useful_ratio"] = out["tx_hashes"] / max(1, out["tx_rows"])
    # the parse UDF sees each first arrival once: valid txs and garbage
    parsed = out["tx_rows"] + out["trash_rows"]
    L["functions.parse.rows"] = parsed
    L["functions.parse.failures"] = out["trash_rows"]
    L["functions.parse.rows_per_unique_hash"] = parsed / max(
        1, out["tx_hashes"] + out["trash_distinct"]
    )
