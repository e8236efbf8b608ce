"""query_mix: the 14 headline registry entries over a seeded table set at
SCALE × the sf0.1 fixture sizes, closed loop with one client.

Each entry is materialized with the noop sink, in a seeded order per
pass; passes repeat for the run's seconds, at least TAIL_PASSES of them. Every entry is checked once
per run against its DuckDB oracle. The traced pass splits each entry into
construct (the Python call returning the DataFrame), optimize (forcing
the executed plan) and execute, and reads bytes, spill and job counts
from Spark's SQL metrics."""

from __future__ import annotations

import hashlib
import random
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import gen
from perfbench.common import CACHE, Ctx, setup
from perfbench.sparkmetrics import JobCounter, planned, plan_metrics, run_planned
from perfbench.stats import median, tail

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "top_partkeys",
    "dedup_earliest",
    "sources_attach",
    "first_source_counts",
    "hourly_stats",
    "value_quantiles",
    "docs_exact_dedup",
    "docs_ngram_jaccard",
    "docs_minhash_lsh_pairs",
    "docs_simhash",
    "emb_knn",
]
SCALE = 0.1  # × the sf0.1 fixture sizes
#: query_tail_s is taken over the first TAIL_PASSES passes only: 2 × 14
#: = 28 latencies put the rank with ten samples beyond it at 18 of 28,
#: seven ranks below the edge (rank 25) where the four samples of the two
#: executor-bound text joins begin, so the tail never sits on the
#: heavy/light boundary; it follows the slowest light entries
TAIL_PASSES = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _digest(rows: list[dict]) -> tuple[int, list[str], str]:
    """Row count, sorted column names and an order-insensitive value hash,
    with the oracle harness's own canonicalization."""
    from selfcheck import canonical

    n, cols, data = canonical(rows)
    return n, cols, hashlib.sha256(repr(data).encode()).hexdigest()


def spark_digests(spark, queries: dict, sf: str, threads: int) -> dict:
    """Collect every entry once, ``threads`` entries at a time. This pass
    also primes the session; run one entry at a time it was most of a
    run's set-up, as each entry's first execution is cold."""

    def one(name: str) -> tuple:
        return name, _digest([r.asDict() for r in queries[name](spark, sf).collect()])

    with ThreadPoolExecutor(threads) as pool:
        out = dict(pool.map(one, HEADLINE))
    spark.catalog.clearCache()
    return out


def check_entries(ctx: Ctx, digests: dict, sf: str) -> None:
    """Compare each entry's digest with its DuckDB oracle's."""
    import duckdb

    from mempool_dumpster_spark.plans.registry import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {ctx.procs}")
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        for name in HEADLINE:
            ctx.attempted += 1
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            want = _digest([dict(zip(cols, r)) for r in cur.fetchall()])
            got = digests[name]
            ctx.check(got == want, f"{name}: spark {got[:2]} != oracle {want[:2]}")
    finally:
        con.close()


def run(ctx: Ctx) -> dict:
    sf, ledger = gen.tables(ctx.seed, SCALE, CACHE)
    ctx.info["input"] = ledger
    gen._import_repo_helpers()
    digests: dict = {}

    def prime(spark) -> None:
        from mempool_dumpster_spark.plans.registry import all_queries

        digests.update(spark_digests(spark, all_queries(), sf, ctx.procs))

    setup_s = setup(ctx, prime)
    check_entries(ctx, digests, sf)
    from mempool_dumpster_spark.plans.registry import all_queries

    queries = all_queries()
    spark = ctx.spark

    rng = random.Random(f"{ctx.seed}:order")
    lat: list[float] = []
    passes: list[float] = []
    by_entry: dict[str, list[float]] = {n: [] for n in HEADLINE}
    t_end = time.perf_counter() + ctx.seconds
    while len(passes) < TAIL_PASSES or time.perf_counter() < t_end:
        t_pass = 0.0
        for name in rng.sample(HEADLINE, len(HEADLINE)):
            ctx.attempted += 1
            t0 = time.perf_counter()
            _noop(queries[name](spark, sf))
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
            lat.append(dt)
            by_entry[name].append(dt)
            t_pass += dt
        passes.append(t_pass)
    if ctx.trace:
        _traced_pass(ctx, queries, sf, median(passes))
    tail_s, tail_pct = tail(lat[: TAIL_PASSES * len(HEADLINE)])
    ctx.info.update(
        samples=len(lat), passes=len(passes), tail_percentile=tail_pct,
        latency_by_entry_s=by_entry,
        figures={
            "query_mix_s": (median(passes), "s"),
            "query_p50_s": (median(lat), "s"),
            "query_tail_s": (tail_s, "s"),
        },
    )
    return {
        "setup_s": setup_s,
        "throughput_per_s": len(HEADLINE) / median(passes),
        "latency_p50_s": median(lat),
        "latency_tail_s": tail_s,
    }


def _traced_pass(ctx: Ctx, queries: dict, sf: str, untraced_pass_s: float) -> None:
    spark, tr, L = ctx.spark, ctx.tracer, ctx.layer
    jobs = JobCounter(spark)
    totals = dict.fromkeys(
        ("construct_s", "optimize_s", "execute_s", "jobs", "spill_bytes", "broadcast_bytes"), 0
    )
    files_read = 0
    t0 = time.perf_counter()
    for name in HEADLINE:
        with jobs.group(name) as g, tr.span(f"plans.{name}", name):
            with tr.span(f"plans.{name}.construct", name) as c:
                df = queries[name](spark, sf)
            with tr.span(f"plans.{name}.optimize", name) as o:
                plan = planned(df)
            with tr.span(f"plans.{name}.execute", name) as e:
                run_planned(df)
        spark.catalog.clearCache()
        m = plan_metrics(plan)
        split = {
            "construct_s": c.end - c.start,
            "optimize_s": o.end - o.start,
            "execute_s": e.end - e.start,
        }
        for k, v in split.items():
            L[f"plans.{name}.{k}"] = v
            totals[k] += v
        L[f"plans.{name}.shuffle_bytes"] = m["shuffle_bytes"]
        totals["jobs"] += g.jobs
        totals["spill_bytes"] += m["spill_bytes"]
        totals["broadcast_bytes"] += m["broadcast_bytes"]
        files_read += m["files_read_bytes"]
    wall = time.perf_counter() - t0
    for k, v in totals.items():
        L[f"plans.query.{k}"] = v
    L["sources.files_read_bytes"] = files_read
    ctx.info["trace"] = {
        "traced_pass_s": wall,
        "untraced_pass_s": untraced_pass_s,
        "overhead_share": wall / untraced_pass_s - 1,
    }
