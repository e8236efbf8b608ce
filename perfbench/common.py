"""What every workload shares: the run context, the set-up phase and the
checkout-local environment."""

from __future__ import annotations

import os
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.stats import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
#: the end-to-end metrics each workload's run() returns
E2E_FROM_WORKLOAD = ("setup_s", "throughput_per_s", "latency_p50_s", "latency_tail_s")


def prepare_env(procs: int) -> None:
    """Keep Spark, the JVM and Python workers inside the checkout."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(procs)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    procs: int
    tracer: Tracer = field(default_factory=Tracer)
    spark: object = None
    #: per-layer metric values; names not set by the workload read 0
    layer: dict = field(default_factory=dict)
    #: extra artifact fields (sample counts, ledgers, overhead)
    info: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    #: False once an output check fails
    correct: bool = True
    failures: list = field(default_factory=list)

    def fail(self, n: int, what: str) -> None:
        """Count ``n`` failed operations, keeping the reason."""
        if n:
            self.failed += n
            self.failures.append(what)

    def check(self, ok: bool, what: str, n: int = 1) -> None:
        """An output check; a failed one counts ``n`` failed operations."""
        if not ok:
            self.correct = False
            self.fail(n, what)


def setup(ctx: Ctx, prime) -> float:
    """The run's set-up: SparkSession start (which launches the JVM), the
    registry import and ``prime(spark)``, the workload's warm-up passes.
    Returns its wall time; the session stays open."""
    from mempool_dumpster_spark.session import get_spark

    t0 = time.perf_counter()
    ctx.spark = get_spark("perfbench")
    t1 = time.perf_counter()
    from mempool_dumpster_spark.plans.registry import all_queries

    all_queries()
    t2 = time.perf_counter()
    prime(ctx.spark)
    t3 = time.perf_counter()
    ctx.layer["session.get_spark_s"] = t1 - t0
    ctx.layer["session.registry_import_s"] = t2 - t1
    ctx.info["setup_split_s"] = {"session": t1 - t0, "registry": t2 - t1, "prime": t3 - t2}
    return t3 - t0


def stop_spark(ctx: Ctx) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM
    (and with it the Python workers) to exit. Also covers a JVM started
    by a session start that failed before ``ctx.spark`` was set."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@contextmanager
def patched(module, name: str, wrapper):
    """Temporarily replace ``module.name`` with ``wrapper(original)``."""
    orig = getattr(module, name)
    setattr(module, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


def spanned(tracer: Tracer, span_name: str, op: str):
    """A wrapper factory for ``patched`` that records a span per call."""

    def wrap(fn):
        def inner(*a, **kw):
            with tracer.span(span_name, op):
                return fn(*a, **kw)

        return inner

    return wrap


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
