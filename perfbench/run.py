"""Benchmark entry point.

    python3 perfbench/run.py --workload merge_day --seed 1 --seconds 10 --trace 0

Runs one workload from this checkout's sources and prints, as its last
line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: every end-to-end metric of BENCHMARK.json with ``--trace 0``,
every per-layer metric with ``--trace 1``. The lines before it are the
artifact: the host record, the workload's sample counts and checks, the
named end-to-end figures the workload applies to, and with ``--trace 1``
the spans and the tracing overhead. Inputs are generated from ``--seed``
and cached under ``.perfbench_cache/``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import importlib
import json
import os
import platform
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("merge_day", "query_mix", "collector_stream")
#: the program and the checkout files the workloads import
PROGRAM_FILES = (
    "mempool_dumpster_spark/__init__.py",
    "tests/txgen.py",
    "tools/stream_stress.py",
    "tools/selfcheck.py",
)


def _meminfo_total_kb() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def _cpu_ticks() -> list[int]:
    """The aggregate cpu line of /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def host_record(seed: int, procs: int) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": procs,
        "mem_total_kb": _meminfo_total_kb(),
        "loadavg_start": list(os.getloadavg()),
        "cpu_ticks_start": _cpu_ticks(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": _git_commit(),
        "seed": seed,
        "started_utc": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
    }


def result_line(
    spec: dict, trace: bool, e2e: dict, layer: dict, correct: bool, attempted: int, failed: int
) -> dict:
    """The last output line: every end-to-end metric, or with ``trace``
    every per-layer metric (0 where the workload does not reach the
    layer), each with its unit. A per-layer value the spec does not
    declare raises KeyError."""
    if trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        unknown = set(layer) - set(units)
        if unknown:
            raise KeyError(f"per-layer metrics not in BENCHMARK.json: {sorted(unknown)}")
        metrics = {n: {"value": layer.get(n, 0), "unit": u} for n, u in units.items()}
    else:
        metrics = {
            m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]
        }
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # without the program there is nothing to measure: fail before any
    # worker process, JVM or helper is started
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and waits for the JVM (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    from perfbench import common
    from perfbench.stats import RssSampler

    procs = len(os.sched_getaffinity(0))
    common.prepare_env(procs)
    host = host_record(args.seed, procs)
    wl = importlib.import_module(f"perfbench.{args.workload}")
    ctx = common.Ctx(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), procs=procs)
    sampler = RssSampler().start()
    t0 = time.perf_counter()
    try:
        e2e = wl.run(ctx)
    finally:
        peak = sampler.stop()
        common.stop_spark(ctx)
    e2e["peak_rss_mb"] = peak / 2**20
    host["loadavg_end"] = list(os.getloadavg())
    ticks = [b - a for a, b in zip(host.pop("cpu_ticks_start"), _cpu_ticks())]
    # share of the machine's CPU time taken by other tenants (steal)
    host["cpu_steal_share"] = ticks[7] / max(1, sum(ticks))
    host["run_wall_s"] = time.perf_counter() - t0

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    line = result_line(
        spec, bool(args.trace), e2e, ctx.layer, ctx.correct, ctx.attempted, ctx.failed
    )
    figures = {
        "setup_s": {"value": e2e["setup_s"], "unit": "s"},
        "peak_rss_mb": {"value": e2e["peak_rss_mb"], "unit": "MB"},
        "failed_share": {"value": ctx.failed / max(1, ctx.attempted), "unit": "ratio"},
    }
    figures.update(
        {k: {"value": v, "unit": u} for k, (v, u) in ctx.info.pop("figures").items()}
    )
    print(json.dumps({"host": host}))
    print(json.dumps({"workload": args.workload, "figures": figures, "info": ctx.info,
                      "failures": ctx.failures}))
    if args.trace:
        print(json.dumps({"spans": ctx.tracer.dump()}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
