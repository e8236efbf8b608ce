"""Tests for the benchmark's own code; none of them start Spark.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
from multiprocessing import active_children, resource_tracker

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench.stats import Span, Tracer, covered, median, tail  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


@pytest.mark.parametrize(
    "make",
    [
        lambda seed, cache, procs: gen.merge_day(seed, 120, cache, procs),
        lambda seed, cache, procs: gen.stream_day(seed, 120, (5, 10), 25, cache, procs),
        lambda seed, cache, procs: gen.tables(seed, 0.002, cache),
    ],
    ids=["merge_day", "collector_stream", "tables"],
)
def test_generators_repeat_bytes_for_a_seed(tmp_path, make):
    a, ledger_a = make(7, str(tmp_path / "a"), 1)
    b, ledger_b = make(7, str(tmp_path / "b"), 2)  # worker count must not matter
    c, _ = make(8, str(tmp_path / "c"), 1)
    assert ledger_a == ledger_b
    assert _same_tree(a, b)
    assert not _same_tree(a, c)


def test_merge_ledger_matches_its_files(tmp_path):
    d, ledger = gen.merge_day(3, 200, str(tmp_path), 1)
    rows = []
    for p in range(gen.MERGE_PARTS):
        with open(f"{d}/txs_{p}.csv") as f:
            rows += [line.rstrip("\n").split(",") for line in f]
    good = [r for r in rows if len(r) == 3 and r[0].isdigit() and len(r[1]) == 66]
    assert len(good) == ledger["n_receipts"]
    earliest: dict[str, int] = {}
    for ts, h, _ in good:
        earliest[h] = min(int(ts), earliest.get(h, int(ts)))
    with open(f"{d}/blacklist.csv") as f:
        black = {line.split(",")[1] for line in f}
    assert {h: t for h, t in earliest.items() if h not in black} == {
        h: v[0] for h, v in ledger["expected"].items()
    }


@pytest.mark.parametrize("jobs", [["1", "2", "3"], ["1", "x", "3"]], ids=["ok", "raises"])
def test_pool_map_leaves_no_process(jobs):
    if "x" in jobs:
        with pytest.raises(RuntimeError, match="invalid literal"):
            gen._pool_map(int, jobs, 2)
    else:
        assert gen._pool_map(int, jobs, 2) == [1, 2, 3]
    assert active_children() == []
    assert resource_tracker._resource_tracker._pid is None


def test_run_without_the_program_fails_before_starting_anything(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    args = ["--workload", "merge_day", "--seed", "1", "--seconds", "1", "--trace", "0"]
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
    assert "program files missing" in p.stderr
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(28)]
    value, pct = tail(list(reversed(xs)))
    assert value == 17.0  # ranks 18..27 are the ten beyond it
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(100 * 18 / 28)
    assert tail([5.0, 1.0, 3.0]) == (5.0, 100.0)  # too few: the largest
    assert tail([float(i) for i in range(11)]) == (0.0, pytest.approx(100 / 11))


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_self_time_counts_overlapping_children_once():
    tr = Tracer()
    tr.spans = [
        Span("parent", 0.0, 10.0, None, "op", id=1),
        Span("a", 1.0, 4.0, 1, "op", id=2),
        Span("b", 3.0, 6.0, 1, "op", id=3),  # overlaps a
        Span("c", 8.0, 12.0, 1, "op", id=4),  # runs past the parent
        Span("grandchild", 1.5, 2.0, 2, "op", id=5),  # not the parent's child
    ]
    assert covered([(1.0, 4.0), (3.0, 6.0), (8.0, 10.0)]) == 7.0
    assert tr.self_time(tr.spans[0]) == pytest.approx(3.0)
    assert tr.self_time(tr.spans[1]) == pytest.approx(2.5)


def test_spans_nest_by_thread():
    tr = Tracer()
    with tr.span("outer", "x") as outer:
        with tr.span("inner", "x") as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert inner.start >= outer.start and inner.end <= outer.end
    assert [s["name"] for s in tr.dump()] == ["outer", "inner"]


def test_result_carries_every_metric_with_its_unit():
    e2e = {m["name"]: 1.5 for m in SPEC["end_to_end"]}
    line = run.result_line(SPEC, False, e2e, {}, True, 10, 0)
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]
    }
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    traced = run.result_line(SPEC, True, e2e, {"functions.parse_s": 2.0}, True, 10, 0)
    assert {k: v["unit"] for k, v in traced["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]
    }
    assert traced["metrics"]["functions.parse_s"]["value"] == 2.0
    with pytest.raises(KeyError):
        run.result_line(SPEC, True, e2e, {"no.such_metric": 1.0}, True, 10, 0)


def test_workloads_report_the_declared_metrics():
    """Every end-to-end metric comes from the workloads, and every
    per-layer name the workloads set is declared."""
    from perfbench.common import E2E_FROM_WORKLOAD

    assert {m["name"] for m in SPEC["end_to_end"]} == set(E2E_FROM_WORKLOAD)
    declared = {m["name"] for m in SPEC["per_layer"]}
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    used = set()
    for name in ("common.py", "merge_day.py", "query_mix.py", "collector_stream.py"):
        with open(os.path.join(here, name)) as f:
            used |= set(re.findall(r'(?:L|layer)\["([a-z_.]+)"\]', f.read()))
    from perfbench.query_mix import HEADLINE

    for entry in HEADLINE:
        for k in ("construct_s", "optimize_s", "execute_s", "shuffle_bytes"):
            used.add(f"plans.{entry}.{k}")
    assert used <= declared
    assert len(declared) == len(SPEC["per_layer"])
