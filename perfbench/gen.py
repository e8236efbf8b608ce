"""Seeded input generators for the benchmark workloads.

Every value is derived from ``(seed, index)`` alone, so the same seed gives
byte-identical files no matter how many worker processes share the work.
Signed transactions come from ``tests/txgen.py``; the collector replay
follows the shape of ``tools/stream_stress.generate`` (contiguous
event-time slices, 1-3 receipts per tx 211 ms apart across three sources,
a small share of unique undecodable payloads that must land in trash).

Outputs are cached under ``<cache>/<name>-s<seed>-<size>/`` with a
``ledger.json`` of the expected results; a directory is complete once its
ledger exists.
"""

from __future__ import annotations

import gc
import hashlib
import json
import multiprocessing as mp
from multiprocessing import resource_tracker
import os
import random
import shutil

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

T0_MS = 1_693_785_600_000  # 2023-09-04 00:00:00 UTC
SOURCES = ["alchemy", "infura", "bloxroute"]
SECP256K1_N = 0xFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFEBAAEDCE6AF48A03BBFD25E8CD0364141


def _import_repo_helpers():
    """txgen lives in tests/, the stream shape in tools/; both are plain
    files of the checkout, imported from there."""
    import sys

    for sub in ("", "tests", "tools"):
        p = os.path.join(ROOT, sub)
        if p not in sys.path:
            sys.path.insert(0, p)


def _tx_rng(seed: int, i: int) -> random.Random:
    return random.Random(f"{seed}:{i}")


def _priv(seed: int, i: int) -> int:
    d = hashlib.sha256(f"perfbench-key:{seed}:{i}".encode()).digest()
    return int.from_bytes(d, "big") % (SECP256K1_N - 1) + 1


def _signed_tx(seed: int, i: int) -> tuple[str, str]:
    """(raw hex, canonical hash) of tx i; types 0-2 so the hash is the
    keccak of the raw bytes."""
    from txgen import make_tx

    from mempool_dumpster_spark.functions.keccak import keccak256

    r = _tx_rng(seed, i)
    raw = make_tx(
        priv=_priv(seed, i),
        tx_type=r.randrange(3),
        nonce=r.randrange(1_000_000),
        gas=21_000 + r.randrange(200_000),
        value=r.randrange(10**20),
        to="0x" + r.randbytes(20).hex(),
        data=r.randbytes(r.choice((0, 0, 4, 36, 68))),
    )
    return raw, "0x" + keccak256(bytes.fromhex(raw[2:])).hex()


def _pool_map(fn, jobs: list, procs: int) -> list:
    """``map`` over ``procs`` spawned workers. On every path out, the
    workers and the resource tracker that spawning starts have ended."""
    if procs <= 1 or len(jobs) <= 1:
        return [fn(j) for j in jobs]
    pool = mp.get_context("spawn").Pool(procs)
    failure = None
    try:
        out = pool.map(fn, jobs)
        pool.close()
    except BaseException as e:  # SIGTERM arrives as SystemExit
        pool.terminate()
        # keep no traceback: its frames would hold the pool, and with it
        # the semaphores the tracker watches, past the tracker's stop
        failure = (
            SystemExit(e.code)
            if isinstance(e, SystemExit)
            else RuntimeError(f"input generation failed: {e!r}")
        )
    pool.join()
    del pool
    gc.collect()  # unlinks the pool's semaphores
    resource_tracker._resource_tracker._stop()
    if failure is not None:
        raise failure
    return out


def _shards(n: int, procs: int) -> list[tuple[int, int]]:
    step = (n + procs - 1) // procs
    return [(lo, min(lo + step, n)) for lo in range(0, n, step)]


def _ready(out: str) -> dict | None:
    ledger = os.path.join(out, "ledger.json")
    if os.path.exists(ledger):
        with open(ledger) as f:
            return json.load(f)
    return None


def _publish(tmp: str, out: str, ledger: dict) -> dict:
    with open(os.path.join(tmp, "ledger.json"), "w") as f:
        json.dump(ledger, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return ledger


# --------------------------------------------------------------------------
# merge_day: one collector day of tx + sourcelog CSVs and a blacklist


MERGE_PARTS = 4
MERGE_STEP_MS = 1_000
BLACKLIST_EVERY = 50  # tx i with i % 50 == 3 was already seen yesterday
MALFORMED_EVERY = 97  # one malformed row per ~97 receipts, per file kind


def _merge_shard(args: tuple[int, int, int]) -> list[dict]:
    seed, lo, hi = args
    _import_repo_helpers()
    txs = []
    for i in range(lo, hi):
        r = _tx_rng(seed, -1 - i)
        raw, h = _signed_tx(seed, i)
        base = T0_MS + i * MERGE_STEP_MS + r.randrange(MERGE_STEP_MS)
        n_rx = 1 + r.randrange(3)
        srcs = r.sample(SOURCES, n_rx)
        delays = sorted(r.sample(range(1, 5_000), n_rx - 1))
        rx = [(base, srcs[0])] + [(base + d, s) for d, s in zip(delays, srcs[1:])]
        # receipts land in random part files, so the earliest is often
        # not the first one read
        parts = [r.randrange(MERGE_PARTS) for _ in rx]
        txs.append({"i": i, "raw": raw, "hash": h, "rx": rx, "parts": parts})
    return txs


def merge_day(seed: int, n_tx: int, cache: str, procs: int) -> tuple[str, dict]:
    """Writes txs_<p>.csv, sourcelog_<p>.csv (headerless collector format)
    and blacklist.csv; the ledger holds every expected output row."""
    out = os.path.join(cache, f"merge_day-s{seed}-{n_tx}")
    ledger = _ready(out)
    if ledger is not None:
        return out, ledger
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    txs = [
        t
        for shard in _pool_map(
            _merge_shard, [(seed, lo, hi) for lo, hi in _shards(n_tx, procs)], procs
        )
        for t in shard
    ]
    rng = random.Random(f"{seed}:merge-files")
    tx_rows: list[list[str]] = [[] for _ in range(MERGE_PARTS)]
    sl_rows: list[list[str]] = [[] for _ in range(MERGE_PARTS)]
    expected = {}
    blacklist = []
    for t in txs:
        for (ts, src), p in zip(t["rx"], t["parts"]):
            tx_rows[p].append(f"{ts},{t['hash']},{t['raw']}")
            sl_rows[p].append(f"{ts},{t['hash']},{src}")
        if t["i"] % BLACKLIST_EVERY == 3:
            blacklist.append(t["hash"])
        else:
            expected[t["hash"]] = [t["rx"][0][0], [s for _, s in t["rx"]]]
    n_receipts = sum(len(rows) for rows in tx_rows)
    malformed = 0
    for p in range(MERGE_PARTS):
        rng.shuffle(tx_rows[p])
        rng.shuffle(sl_rows[p])
        for k in range(len(tx_rows[p]) // MALFORMED_EVERY):
            bad = rng.choice(
                [
                    f"{T0_MS},0x{k:08x},0xdeadbeef",  # short hash
                    f"not-a-ts,0x{rng.randbytes(32).hex()},0x02",  # bad timestamp
                    f"{T0_MS},0x{rng.randbytes(32).hex()}",  # two fields
                ]
            )
            tx_rows[p].insert(rng.randrange(len(tx_rows[p]) + 1), bad)
            sl_rows[p].insert(
                rng.randrange(len(sl_rows[p]) + 1), f"{T0_MS},0xshort,{SOURCES[0]}"
            )
            malformed += 1
        with open(os.path.join(tmp, f"txs_{p}.csv"), "w") as f:
            f.write("\n".join(tx_rows[p]) + "\n")
        with open(os.path.join(tmp, f"sourcelog_{p}.csv"), "w") as f:
            f.write("\n".join(sl_rows[p]) + "\n")
    # yesterday's metadata CSV: the hash is the second column; half of it
    # never shows up today
    old = [f"0x{rng.randbytes(32).hex()}" for _ in range(len(blacklist))]
    with open(os.path.join(tmp, "blacklist.csv"), "w") as f:
        f.write("timestamp,hash,chain_id\n")
        for h in sorted(blacklist + old):
            f.write(f"{T0_MS - 86_400_000},{h},1\n")
    return out, _publish(
        tmp,
        out,
        {
            "n_tx": n_tx,
            "n_receipts": n_receipts,
            "n_blacklisted": len(blacklist),
            "malformed_per_kind": malformed,
            "expected": expected,
        },
    )


# --------------------------------------------------------------------------
# collector_stream: an event-time-ordered receipt replay in small files

GARBAGE_EVERY = 50  # i % 50 == 7 → undecodable payload (trash routing)


def _stream_shard(args: tuple[int, int, int]) -> list[str]:
    """Receipt lines of tx indices [lo, hi), in event-time order."""
    seed, lo, hi = args
    _import_repo_helpers()
    from stream_stress import _ts_str

    out = []
    for i in range(lo, hi):
        ts = T0_MS + i * 200
        r = _tx_rng(seed, -1 - i)
        if i % GARBAGE_EVERY == 7:
            out.append(f"{_ts_str(ts)},0xdead{seed:06x}{i:010x},{r.choice(SOURCES)}")
            continue
        raw, _ = _signed_tx(seed, i)
        n_rx = 1 + r.randrange(3)
        for j, src in enumerate(r.sample(SOURCES, n_rx)):
            out.append(f"{_ts_str(ts + 211 * j)},{raw},{src}")
    return out


def stream_day(
    seed: int, n_tx: int, head: tuple[int, int], tail_size: int, cache: str, procs: int
) -> tuple[str, dict]:
    """Receipt files f_<k>.csv (``received_at,raw_tx,source``) in
    event-time order: ``head`` = (files, receipts per file) first, the
    rest in files of ``tail_size`` receipts. The ledger counts valid
    receipts, valid unique txs and garbage receipts, and lists the
    receipts of each file."""
    head_files, head_size = head
    out = os.path.join(
        cache, f"collector_stream-s{seed}-{n_tx}-{head_files}x{head_size}-{tail_size}"
    )
    ledger = _ready(out)
    if ledger is not None:
        return out, ledger
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = [
        line
        for shard in _pool_map(
            _stream_shard, [(seed, lo, hi) for lo, hi in _shards(n_tx, procs)], procs
        )
        for line in shard
    ]
    garbage = sum(1 for line in rows if ",0xdead" in line)
    files, k = [], 0
    while k < len(rows):
        size = head_size if len(files) < head_files else tail_size
        name = f"f_{len(files):05d}.csv"
        with open(os.path.join(tmp, name), "w") as f:
            f.write("\n".join(rows[k : k + size]) + "\n")
        files.append([name, len(rows[k : k + size])])
        k += size
    n_garbage_tx = len(range(7, n_tx, GARBAGE_EVERY))
    return out, _publish(
        tmp,
        out,
        {
            "n_tx": n_tx,
            "receipts": len(rows),
            "valid_receipts": len(rows) - garbage,
            "valid_unique": n_tx - n_garbage_tx,
            "garbage": garbage,
            "files": files,
        },
    )


# --------------------------------------------------------------------------
# query_mix: the registry's table set, TPC-H-like star + events + text

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
TABLE_ROWS = {  # at scale 1.0 (the sf0.1 fixture sizes)
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
WORDS = (
    "a agg batch big column data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window shard index cache page block node edge graph plan"
).split()
PART_WORDS = (
    ["blue", "hot", "large", "new", "small", "green", "red", "old"],
    ["ring", "bolt", "gear", "widget", "rod", "nut", "pipe", "valve"],
)


def _days(rng, lo: str, hi: str, n: int):
    import numpy as np

    a = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - a) / np.timedelta64(1, "D"))
    return (a + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int):
    import numpy as np

    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(seed: int, n: int) -> dict:
    """Word-salad documents over a small vocabulary; about 4% are exact
    copies and 8% near copies of an earlier document, the shape the
    dedup and similarity-join entries look for."""
    r = random.Random(f"{seed}:documents")
    langs = ["en"] * 8 + ["de", "es", "fr", "zh"] * 3
    texts: list[str] = []
    for i in range(n):
        u = r.random()
        if i > 10 and u < 0.04:
            text = texts[r.randrange(i)]
        elif i > 10 and u < 0.12:
            words = texts[r.randrange(i)].split()
            for _ in range(1 + len(words) // 12):
                words[r.randrange(len(words))] = r.choice(WORDS)
            text = " ".join(words)
        else:
            text = " ".join(r.choice(WORDS) for _ in range(r.randint(8, 100)))
        texts.append(text)
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [r.choice(langs) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def _tables(seed: int, scale: float) -> dict:
    import numpy as np
    import pyarrow as pa

    rows = {t: max(10, int(n * scale)) for t, n in TABLE_ROWS.items()}
    rng = np.random.default_rng(seed)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    out = {
        "region": pa.table(
            {
                "r_regionkey": i32(range(5)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
    }
    n = rows["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": i32(rng.integers(0, 25, n)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
            ),
        }
    )
    n = rows["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": i32(rng.integers(0, 25, n)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = rows["part"]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_WORDS[0], n), rng.choice(PART_WORDS[1], n)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n
            ),
            "p_size": i32(rng.integers(1, 51, n)),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 2),
        }
    )
    n = rows["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, rows["customer"], n),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
            ),
        }
    )
    n = rows["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, rows["orders"], n),
            "l_partkey": rng.integers(0, rows["part"], n),
            "l_suppkey": rng.integers(0, rows["supplier"], n),
            "l_linenumber": i32(rng.integers(1, 8, n)),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
        }
    )
    n = rows["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    out["events"] = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": np.sort(start + rng.integers(0, 30 * 86_400 * 10**6, n)),
            "user_id": rng.integers(0, max(10, rows["events"] // 66), n),
            "event_type": rng.choice(
                ["click", "error", "purchase", "signup", "view"], n
            ),
            "value": np.round(rng.exponential(60.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    out["documents"] = pa.table(_documents(seed, rows["documents"]))
    n = rows["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": i32(labels),
        }
    )
    return out


def tables(seed: int, scale: float, cache: str) -> tuple[str, dict]:
    """One parquet file per registry table, ``scale`` × the sf0.1 sizes."""
    import pyarrow.parquet as pq

    out = os.path.join(cache, f"tables-s{seed}-{scale:g}")
    ledger = _ready(out)
    if ledger is not None:
        return out, ledger
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    counts = {}
    for name, table in _tables(seed, scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        counts[name] = table.num_rows
    return out, _publish(tmp, out, {"scale": scale, "rows": counts})
