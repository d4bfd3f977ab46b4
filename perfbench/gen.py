"""Seeded input generators for the benchmark.

Everything the engine sees in a benchmark run is made here from ``--seed``:
the same seed gives byte-identical inputs.

- :func:`write_fixture` writes the ten fixture tables (``events``,
  ``documents``, ``embeddings`` and the TPC-H-shaped star schema) with the
  schemas and value shapes of the registry's fixtures, at the sf0.01 row
  counts, for ``query_mix``.
- :class:`RiverFeed` makes the river's cells relation: an initial slice with
  a share of row keys re-emitted at a newer ts (latest-wins arbitrates), and
  a numbered sequence of deltas, each mostly new keys plus a share of full
  re-emits of older keys at newer ts.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
VOCAB = ("a", "the", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "value", "vector", "window")
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
P_COLORS = ("small", "red", "blue", "green", "large", "black")
P_NOUNS = ("ring", "widget", "bolt", "gear", "plate", "valve")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

#: Row counts of the sf0.01 fixtures the registry's oracle gate runs at.
FIXTURE_ROWS = {"events": 10_000, "documents": 500, "embeddings": 500,
                "customer": 1_500, "orders": 15_000, "lineitem": 60_000,
                "part": 2_000, "supplier": 100}

_EPOCH = dt.datetime(1970, 1, 1)
_EVENTS_T0_US = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 10**6
_DAY_US = 86_400 * 10**6


def _ts_us(days_from: dt.datetime, day_offsets: np.ndarray) -> pa.Array:
    base = int((days_from - _EPOCH).total_seconds()) * 10**6
    return pa.array(base + day_offsets.astype(np.int64) * _DAY_US,
                    type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _event_columns(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """user_id / event_type / value / props for ``n`` event rows."""
    return {
        "user_id": rng.integers(0, 150, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def fixture_tables(seed: int) -> dict[str, pa.Table]:
    """The ten fixture tables as arrow tables (see module docstring)."""
    rng = np.random.default_rng([seed, 1])
    n = FIXTURE_ROWS
    out: dict[str, pa.Table] = {}

    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne)) + _EVENTS_T0_US
    ev = _event_columns(rng, ne)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": ev["event_type"],
        "value": ev["value"],
        "props": ev["props"],
    })

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(np.array(VOCAB)[rng.integers(0, len(VOCAB),
                                                      int(rng.integers(10, 90)))])
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv, dim = n["embeddings"], 64
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (nv, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })

    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(("P", "O", "F"))[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts_us(dt.datetime(1995, 1, 1),
                              rng.integers(0, 2404, no)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })

    nl, npart, nsupp = n["lineitem"], n["part"], n["supplier"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, nsupp, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(("O", "F"))[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_us(dt.datetime(1995, 1, 2),
                             rng.integers(0, 2498, nl)),
    })

    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{P_COLORS[a]} {P_NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 6, npart), rng.integers(0, 6, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(npart) / 10.0, 2),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(nsupp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(nsupp)],
        "s_nationkey": pa.array(rng.integers(0, 25, nsupp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, nsupp),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    return out


def write_fixture(seed: int, out_dir: str) -> str:
    """Write the fixture tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --------------------------------------------------------------------------
# River cells feed
# --------------------------------------------------------------------------

CELLS_SCHEMA = pa.schema([("row_key", pa.string()), ("family", pa.string()),
                          ("qualifier", pa.string()), ("value", pa.string()),
                          ("ts_ms", pa.int64())])

#: 2024-01-01T00:00:00Z in epoch millis: the feed's first cell timestamp.
RIVER_T0_MS = 1_704_067_200_000


class RiverFeed:
    """Deterministic cells feed: slice 0 is the initial load, slice k >= 1
    the k-th delta. Every slice is a function of ``(seed, k)`` alone, so
    any prefix of the sequence can be regenerated without state.

    A version of a row is its four cells (``meta``: event_type, user_id;
    ``data``: value, props) at one ts; a re-emit writes all four at a newer
    ts, so per-cell and per-document latest-wins agree. Slice k's
    timestamps lie in ``[T0 + k*window, T0 + (k+1)*window)``, above every
    earlier slice's, which is what the watermark of an incremental tick
    relies on.
    """

    initial_rows = 10_000
    delta_rows = 2_000
    update_share = 0.2     # of a delta's rows: re-emits of older keys
    reemit_share = 0.05    # of the initial slice's keys: emitted twice
    window_ms = 3_600_000  # ts span of one slice
    new_per_delta = delta_rows - int(delta_rows * update_share)

    def __init__(self, seed: int):
        self.seed = seed

    def keys_before(self, k: int) -> int:
        """Number of distinct row keys in slices 0..k-1."""
        return 0 if k == 0 else self.initial_rows + (k - 1) * self.new_per_delta

    def versions(self, k: int) -> tuple[np.ndarray, np.ndarray]:
        """(row key ids, ts_ms) of the row versions slice ``k`` emits."""
        rng = np.random.default_rng([self.seed, 2, k])
        t0 = RIVER_T0_MS + k * self.window_ms
        if k == 0:
            n = self.initial_rows
            keys = np.arange(n)
            ts = t0 + rng.integers(0, self.window_ms // 2, n)
            re = rng.choice(n, int(n * self.reemit_share), replace=False)
            re_ts = t0 + self.window_ms // 2 + rng.integers(
                0, self.window_ms // 2, re.size)
            return np.concatenate([keys, re]), np.concatenate([ts, re_ts])
        before = self.keys_before(k)
        new = before + np.arange(self.new_per_delta)
        upd = rng.choice(before, self.delta_rows - self.new_per_delta,
                         replace=False)
        keys = np.concatenate([new, upd])
        return keys, t0 + rng.integers(0, self.window_ms, keys.size)

    def distinct_docs(self, k: int) -> int:
        """Documents slice ``k`` alone assembles (its distinct row keys)."""
        return int(np.unique(self.versions(k)[0]).size)

    def cells(self, k: int) -> pa.Table:
        """Slice ``k`` as a cells table (the ``sources.formats`` schema)."""
        keys, ts = self.versions(k)
        rng = np.random.default_rng([self.seed, 3, k])
        ev = _event_columns(rng, keys.size)
        rk = keys.astype(str)
        value = np.char.mod("%.2f", ev["value"])
        user = ev["user_id"].astype(str)
        n = keys.size
        return pa.table({
            "row_key": np.tile(rk, 4),
            "family": np.repeat(np.array(["meta", "meta", "data", "data"]), n),
            "qualifier": np.repeat(
                np.array(["event_type", "user_id", "value", "props"]), n),
            "value": np.concatenate([ev["event_type"], user, value,
                                     ev["props"]]),
            "ts_ms": np.tile(ts.astype(np.int64), 4),
        }, schema=CELLS_SCHEMA)

    def write(self, k: int, source_dir: str) -> str:
        """Land slice ``k`` as one parquet file in ``source_dir``."""
        os.makedirs(source_dir, exist_ok=True)
        path = os.path.join(source_dir, f"part-{k:05d}.parquet")
        pq.write_table(self.cells(k), path)
        return path
