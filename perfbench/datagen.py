"""Seeded synthetic inputs for the benchmark.

The tables follow the shape of the engine's test data (TESTDATA.md): a
TPC-H-like star schema plus `events`, `documents` and `embeddings`, with
the same column types.  At sf0.1 the row counts, distinct keys, value
ranges, top-value shares, document lengths, vocabulary and near-duplicate
share were compared with the test data's sf0.1 tables; README.md has the
table.  Row counts scale linearly with `sf` (sf0.1: 600k lineitem rows,
100k events, 5k documents).
The same (sf, seed) always yields byte-identical parquet files.

`scaled_tables` tiles a base set with `tools/make_sf.shard_table`, the
repository's own scale-up rule; the seed picks which shard indices tile it.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# rows per unit of scale factor (sf0.1 = one tenth of these)
_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
_EPOCH_US = {
    "orders": int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6),
    "lineitem": int(datetime(1995, 1, 2, tzinfo=timezone.utc).timestamp() * 1e6),
    "events": int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6),
}
_DAY_US = 86_400_000_000
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64


def _n(name: str, sf: float) -> int:
    return max(1, round(_ROWS[name] * sf))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, table: str, span_days: int, n: int) -> pa.Array:
    us = _EPOCH_US[table] + rng.integers(0, span_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def make_events(rng: np.random.Generator, n: int, ids: np.ndarray | None = None,
                offset_us: int = 0, tz: str | None = None) -> pa.Table:
    """`events` rows with increasing timestamps (mean gap ~26 s) from
    2024-01-01 plus `offset_us`; ids default to 0..n-1."""
    ts = _EPOCH_US["events"] + offset_us + np.cumsum(rng.exponential(25.92e6, n)).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64) if ids is None else ids.astype(np.int64)),
        "ts": pa.array(ts, pa.timestamp("us", tz=tz)),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 100, n)
    words = np.asarray(_VOCAB, dtype=object)[rng.integers(0, len(_VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    # exactly 5% near-duplicates, each another document plus the word
    # "dup"; two that copy the same document are exact duplicates, so the
    # dedup steps have real candidates to verify
    base = list(texts)
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = base[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(10, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n).astype(np.int32)
    x = rng.normal(size=(n, EMBED_DIM)) + 0.6 * centers[label]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(x.ravel(), pa.float32())),
        "label": pa.array(label),
    })


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table at scale `sf`; each table draws from its own stream so
    adding rows to one never shifts another."""
    streams = dict(zip(TABLES, np.random.SeedSequence(seed).spawn(len(TABLES))))

    def rng(t: str) -> np.random.Generator:
        return np.random.default_rng(streams[t])

    nc, ns, np_, no, nl = (_n(t, sf) for t in ("customer", "supplier", "part", "orders", "lineitem"))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
    }
    r = rng("customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(r.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(r, _SEGMENTS, nc),
    })
    r = rng("supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(r.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, ns)),
    })
    r = rng("part")
    keys = np.arange(np_, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                            zip(r.integers(0, 8, np_), r.integers(0, 8, np_))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, np_)], pa.string()),
        "p_type": _pick(r, _PART_TYPES, np_),
        "p_size": pa.array(r.integers(1, 51, np_, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    })
    r = rng("orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, no)),
        "o_orderdate": _days(r, "orders", 2405, no),
        "o_orderpriority": _pick(r, _PRIORITIES, no),
    })
    r = rng("lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, np_, nl, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, nl)),
        # rounded uniform draws: the end values get half the weight
        "l_discount": pa.array(np.round(r.uniform(0.0, 0.10, nl), 2)),
        "l_tax": pa.array(np.round(r.uniform(0.0, 0.08, nl), 2)),
        "l_returnflag": _pick(r, ["A", "N", "R"], nl),
        "l_linestatus": _pick(r, ["F", "O"], nl),
        "l_shipdate": _days(r, "lineitem", 2499, nl),
    })
    out["events"] = make_events(rng("events"), _n("events", sf))
    out["documents"] = _documents(rng("documents"), _n("documents", sf))
    out["embeddings"] = _embeddings(rng("embeddings"), _n("embeddings", sf))
    return out


def _write_dir(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write atomically: a half-written directory is never left under
    `out_dir`, so an interrupted run regenerates instead of reusing it."""
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tab in tables.items():
        pq.write_table(tab, f"{tmp}/{name}.parquet", row_group_size=1_000_000)
    os.rename(tmp, out_dir)


def _cached(out: str, build) -> str:
    """`out`, built by `build(out)` unless present; the cache keeps only
    the KEEP most recently used data sets."""
    if os.path.isdir(out):
        os.utime(out)
    else:
        build(out)
    cache = os.path.dirname(out)
    by_use = sorted((os.path.join(cache, d) for d in os.listdir(cache)), key=os.path.getmtime)
    for d in by_use[:-KEEP]:
        shutil.rmtree(d, ignore_errors=True)
    return out


KEEP = 4


def base_tables(cache: str, sf: float, seed: int) -> str:
    """Directory of parquet tables at scale `sf`, generated once per
    (sf, seed) and reused from `cache` afterwards."""
    return _cached(os.path.join(cache, f"sf{sf:g}_seed{seed}"),
                   lambda out: _write_dir(make_tables(sf, seed), out))


def scaled_tables(cache: str, sf: float, shards: int, seed: int, names: list[str]) -> str:
    """`names` tiled `shards` times with `tools/make_sf.shard_table`.

    The seed draws the shard indices (shard 0, the identity copy, is never
    drawn, so every tile has its own id range and word remap); tables not
    in `names` are copied untiled."""
    from make_sf import shard_table  # tools/ is put on sys.path by run.py

    def build(out: str) -> None:
        picks = np.random.default_rng(seed).choice(np.arange(1, 100), shards, replace=False)
        tables = make_tables(sf, seed)
        for name in names:
            tables[name] = pa.concat_tables(
                [shard_table(name, tables[name], int(s)) for s in sorted(picks)]
            )
        _write_dir(tables, out)

    return _cached(os.path.join(cache, f"sf{sf:g}x{shards}_seed{seed}"), build)
