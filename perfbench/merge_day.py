"""merge_day: the daily batch job on one seeded collector day.

merge_transactions → write_merge_outputs (Parquet + two CSVs) → analyze +
render_report on the written Parquet, repeated for the run's seconds
(at least MIN_DAYS days).
The traced run keeps the frames merge_transactions builds at each layer
call, materializes those prefixes (read → blacklist + dedup → parse →
merge) and times each layer's execute self time as the difference
between consecutive prefixes."""

from __future__ import annotations

import glob
import os
import shutil
import time
from contextlib import ExitStack

from perfbench import gen
from perfbench.common import CACHE, Ctx, dir_bytes, patched, setup, spanned
from perfbench.sparkmetrics import (
    JobCounter,
    is_subplan,
    plan_metrics,
    planned,
    run_planned,
    timed_execute,
)
from perfbench.stats import median, tail

N_TX = 1_000  # about 2,000 receipts
#: days measured at least, however long they take
MIN_DAYS = 3
PRIME_DAYS = 1
#: the traced run times each prefix this many times and keeps the fastest
PREFIX_ROUNDS = 3
#: a layer may read below zero by this share of the merge before the
#: prefixes count as inconsistent (the ledger fails the run)
NEGATIVE_TOLERANCE = 0.05
#: the layer functions plans.merge calls; the traced run keeps what each
#: returns to build the prefixes
CAPTURED = (
    "read_tx_csv",
    "read_sourcelog_csv",
    "anti_join_blacklist",
    "dedup_keep_earliest",
    "with_parsed_tx",
)


def _inputs(d: str) -> dict:
    parts = range(gen.MERGE_PARTS)
    return {
        "tx_paths": [f"{d}/txs_{p}.csv" for p in parts],
        "sourcelog_paths": [f"{d}/sourcelog_{p}.csv" for p in parts],
        "blacklist_paths": [f"{d}/blacklist.csv"],
    }


def _day(spark, inp: dict, out: str):
    from mempool_dumpster_spark.operators.analyzer import analyze, render_report
    from mempool_dumpster_spark.plans.merge import merge_transactions, write_merge_outputs
    from mempool_dumpster_spark.sources.readers import read_transactions_parquet

    res = merge_transactions(spark, **inp)
    write_merge_outputs(res, out)
    res.unpersist()
    summary = analyze(read_transactions_parquet(spark, f"{out}/transactions.parquet"))
    render_report(summary)
    return summary


def _csv_rows(path: str) -> int:
    n = 0
    for f in glob.glob(f"{path}/*.csv"):
        with open(f) as fh:
            n += max(0, sum(1 for _ in fh) - 1)  # minus the header line
    return n


def check_day(ctx: Ctx, ledger: dict, out: str, summary) -> None:
    """Compare the written outputs with the generator's ledger."""
    import pyarrow.parquet as pq

    expected = ledger["expected"]
    files = sorted(glob.glob(f"{out}/transactions.parquet/part-*.parquet"))
    t = pq.ParquetDataset(files).read(columns=["timestamp", "hash", "sources"])
    ts, hashes, sources = (t.column(c).to_pylist() for c in ("timestamp", "hash", "sources"))
    ctx.check(len(hashes) == len(expected), f"unique count {len(hashes)} != {len(expected)}")
    ctx.check(len(set(hashes)) == len(hashes), "duplicate hash in output")
    ctx.check(all(a <= b for a, b in zip(ts, ts[1:])), "output not in timestamp order")
    bad_ts = bad_src = 0
    for h, t_ms, srcs in zip(hashes, ts, sources):
        want = expected.get(h)
        if want is None or want[0] != t_ms:
            bad_ts += 1
        elif want[1] != srcs:
            bad_src += 1
    ctx.check(bad_ts == 0, f"{bad_ts} rows without the earliest timestamp")
    ctx.check(bad_src == 0, f"{bad_src} rows with wrong source arrays")
    ctx.check(summary.n_unique == len(expected), f"analyzer n_unique {summary.n_unique}")
    for sink in ("transactions.csv", "transactions_raw.csv"):
        n = _csv_rows(f"{out}/{sink}")
        ctx.check(n == len(expected), f"{sink} has {n} rows")


def run(ctx: Ctx) -> dict:
    day_dir, ledger = gen.merge_day(ctx.seed, N_TX, CACHE, ctx.procs)
    inp = _inputs(day_dir)
    out = os.path.join(CACHE, "out", "merge_day")
    ctx.info["input"] = {k: ledger[k] for k in ("n_tx", "n_receipts", "n_blacklisted")}

    def prime(spark) -> None:
        # the same day, PRIME_DAYS times: cold Python workers and JIT
        for _ in range(PRIME_DAYS):
            shutil.rmtree(out, ignore_errors=True)
            _day(spark, inp, out)

    setup_s = setup(ctx, prime)
    spark = ctx.spark
    walls: list[float] = []
    t_end = time.perf_counter() + ctx.seconds
    while len(walls) < MIN_DAYS or time.perf_counter() < t_end:
        shutil.rmtree(out, ignore_errors=True)
        ctx.attempted += 1
        t0 = time.perf_counter()
        summary = _day(spark, inp, out)
        walls.append(time.perf_counter() - t0)
        check_day(ctx, ledger, out, summary)
    if ctx.trace:
        _traced_day(ctx, inp, ledger, out, walls[-1])
    p50 = median(walls)
    tail_s, tail_pct = tail(walls)
    ctx.info["samples"] = len(walls)
    ctx.info["walls_s"] = walls
    ctx.info["tail_percentile"] = tail_pct
    ctx.info["figures"] = {
        "merge_receipts_per_s": (ledger["n_receipts"] / p50, "receipts/s"),
    }
    return {
        "setup_s": setup_s,
        "throughput_per_s": ledger["n_receipts"] / p50,
        "latency_p50_s": p50,
        "latency_tail_s": tail_s,
    }


def _capture(spark, inp: dict):
    """One merge_transactions call with the layer functions it calls
    wrapped to keep what each returns: the prefixes are the merge's own
    frames, so a change inside the merge moves them too."""
    from mempool_dumpster_spark.plans import merge as merge_mod

    got: dict = {}

    def keep(name: str):
        def wrap(fn):
            def inner(*a, **kw):
                got[name] = fn(*a, **kw)
                return got[name]

            return inner

        return wrap

    with ExitStack() as stack:
        for name in CAPTURED:
            stack.enter_context(patched(merge_mod, name, keep(name)))
        res = merge_mod.merge_transactions(spark, **inp)
    res.unpersist()
    return res, got


def _materialize(df, *extra):
    """An aggregate over every column of ``df``, so no column is pruned
    and a UDF runs in full; ``extra`` aggregates ride along."""
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)).alias("n"), *extra, *[F.max(F.hash(F.col(f"`{c}`"))) for c in df.columns]
    )


def _prefix_times(ctx: Ctx, inp: dict, prefixes: dict) -> tuple[dict, dict, dict]:
    """Execute each prefix, then the whole merge as the day runs it,
    PREFIX_ROUNDS times from scratch. Returns the fastest execute time of
    each, the first round's result rows and the parse prefix's plan
    metrics."""
    from pyspark.sql import functions as F

    from mempool_dumpster_spark.plans import merge as merge_mod

    spark, tr = ctx.spark, ctx.tracer
    extra = {
        "parse": (
            F.sum(F.when(F.col("parse_ok"), 0).otherwise(1)).alias("failures"),
            F.size(F.collect_set("hash")).alias("hashes"),
        )
    }
    times: dict[str, list[float]] = {k: [] for k in (*prefixes, "merge")}
    rows: dict = {}
    m_parse: dict = {}
    # AQE folds the dedup shuffle into one task when the parse prefix
    # ends in an aggregate, which the merge's downstream join prevents;
    # every prefix and the merge itself run with coalescing off, so the
    # differences compare like with like
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        for _ in range(PREFIX_ROUNDS):
            for k, df in prefixes.items():
                with tr.span(f"prefix.{k}", "prefix"):
                    _, t, out, m = timed_execute(_materialize(df, *extra.get(k, ())), collect=True)
                times[k].append(t)
                rows.setdefault(k, out[0])
                if k == "parse":
                    m_parse = m
            with tr.span("prefix.merge", "prefix"):
                res = merge_mod.merge_transactions(spark, **inp)
                final = res.transactions.persist()
                _, t, _, _ = timed_execute(final.agg(F.count(F.lit(1))))
                final.unpersist()
                res.unpersist()
            times["merge"].append(t)
    finally:
        spark.conf.set(coalesce, saved)
    return {k: min(v) for k, v in times.items()}, rows, m_parse


def _traced_day(ctx: Ctx, inp: dict, ledger: dict, out: str, untraced_s: float) -> None:
    """Per-layer metrics; ``untraced_s`` is the run's last untraced day."""
    from pyspark.sql import functions as F

    from mempool_dumpster_spark.operators import analyzer as analyzer_mod
    from mempool_dumpster_spark.plans import merge as merge_mod
    from mempool_dumpster_spark.sources.readers import read_transactions_parquet

    spark, tr, L = ctx.spark, ctx.tracer, ctx.layer
    jobs = JobCounter(spark)

    # --- one day end to end with spans at each layer call, right after
    # the untraced days (JIT warm-up goes on from day to day) ---
    shutil.rmtree(out, ignore_errors=True)
    writers = ("write_transactions_parquet", "write_metadata_csv", "write_raw_csv")
    t0 = time.perf_counter()
    with tr.span("day", "day") as day:
        with tr.span("plans.merge.construct", "day"):
            res = merge_mod.merge_transactions(spark, **inp)
        with jobs.group("merge") as g_merge:
            with tr.span("plans.merge.optimize", "day"):
                final = res.transactions.persist()
                q = final.agg(F.count(F.lit(1)).alias("n"))
                plan = planned(q)
            with tr.span("plans.merge.execute", "day"):
                run_planned(q)
            m_merge = plan_metrics(plan)
            with ExitStack() as stack:
                for w in writers:
                    stack.enter_context(patched(merge_mod, w, spanned(tr, f"sources.{w}", "day")))
                merge_mod.write_merge_outputs(res, out)
        res.unpersist()  # write_merge_outputs released `final`
        with jobs.group("analyze") as g_an, tr.span("operators.analyze", "day"):
            summary = analyzer_mod.analyze(
                read_transactions_parquet(spark, f"{out}/transactions.parquet")
            )
            analyzer_mod.render_report(summary)
    wall = time.perf_counter() - t0
    check_day(ctx, ledger, out, summary)

    # --- prefixes of the merge's own plan: read → blacklist + dedup →
    # parse → merge, each checked to be a subtree of the merge's plan ---
    with tr.span("capture", "prefix"):
        captured_res, got = _capture(spark, inp)
    missing = [n for n in CAPTURED if n not in got]
    ctx.check(not missing, f"merge_transactions no longer calls {missing}")
    if missing:
        return
    prefixes = {
        "read": got["read_tx_csv"].valid,
        "dedup": got["dedup_keep_earliest"],
        "parse": got["with_parsed_tx"],
    }
    for k, df in prefixes.items():
        ctx.check(is_subplan(df, captured_res.transactions), f"{k} prefix not in the merge plan")
    best, rows, m_parse = _prefix_times(ctx, inp, prefixes)
    with tr.span("counts", "off-path"):
        L["sources.read_tx_csv.rows"] = rows["read"]["n"]
        L["sources.read_tx_csv.rejects"] = got["read_tx_csv"].rejects.count()
        L["sources.read_sourcelog_csv.rows"] = got["read_sourcelog_csv"].valid.count()
        L["operators.dedup.rows_in"] = got["anti_join_blacklist"].count()
    L["operators.blacklist.rows_removed"] = rows["read"]["n"] - L["operators.dedup.rows_in"]
    L["operators.dedup.rows_out"] = rows["dedup"]["n"]
    parse_row = rows["parse"]
    L["functions.parse.rows"] = parse_row["n"]
    L["functions.parse.failures"] = parse_row["failures"]
    L["functions.parse.rows_per_unique_hash"] = parse_row["n"] / max(1, parse_row["hashes"])
    L["functions.parse.python_bytes_sent"] = m_parse["python_bytes_sent"]
    L["sources.scan_s"] = best["read"]
    deltas = {
        "operators.dedup_s": best["dedup"] - best["read"],
        "functions.parse_s": best["parse"] - best["dedup"],
        "operators.attach_sources_s": best["merge"] - best["parse"],
    }
    L.update(deltas)
    L["functions.parse.us_per_row"] = 1e6 * deltas["functions.parse_s"] / max(1, parse_row["n"])
    # a layer that reads below zero by more than noise means the prefixes
    # do not time the plan the merge runs
    for k, v in deltas.items():
        ctx.check(v >= -NEGATIVE_TOLERANCE * best["merge"], f"{k} = {v:.3f} s < 0: prefixes inconsistent")

    st = tr.self_times()
    L["plans.merge.construct_s"] = st["plans.merge.construct"]
    L["plans.merge.optimize_s"] = st["plans.merge.optimize"]
    L["plans.merge.execute_s"] = st["plans.merge.execute"]
    L["plans.merge.jobs"] = g_merge.jobs
    L["plans.merge.exchanges"] = m_merge["exchanges"]
    L["plans.merge.shuffle_bytes"] = m_merge["shuffle_bytes"]
    L["plans.merge.spill_bytes"] = m_merge["spill_bytes"]
    L["plans.merge.peak_exec_mem_bytes"] = m_merge["peak_mem_bytes"]
    for w in writers:
        L[f"sources.{w}_s"] = st[f"sources.{w}"]
    L["sources.bytes_written_per_row"] = dir_bytes(out) / max(1, len(ledger["expected"]))
    L["operators.analyze_s"] = st["operators.analyze"]
    L["operators.analyze.jobs"] = g_an.jobs
    # the blocking path from the prefix split (not from this pass's own
    # merge execute), set against this pass and the last untraced day
    path = {
        "plans.merge.construct_s": L["plans.merge.construct_s"],
        "plans.merge.optimize_s": L["plans.merge.optimize_s"],
        "sources.scan_s": L["sources.scan_s"],
        **deltas,
        **{f"sources.{w}_s": L[f"sources.{w}_s"] for w in writers},
        "operators.analyze_s": L["operators.analyze_s"],
    }
    blocking = sum(path.values())
    ctx.info["trace"] = {
        "traced_day_s": wall,
        "last_untraced_day_s": untraced_s,
        "overhead_share": wall / untraced_s - 1,
        "prefix_execute_s": best,
        "merge_execute_in_day_s": L["plans.merge.execute_s"],
        "blocking_path_s": blocking,
        "blocking_path_terms_s": path,
        "blocking_path_share_of_traced_day": blocking / wall,
        "blocking_path_share_of_last_untraced_day": blocking / untraced_s,
        "blocking_path_within_a_tenth": abs(blocking / wall - 1) <= 0.1,
        "per_row_share": {
            "functions.parse_s / day": deltas["functions.parse_s"] / wall,
        },
        "day_span_self_s": tr.self_time(day),
    }
