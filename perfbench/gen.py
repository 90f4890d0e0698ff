"""Seeded input generation for every workload.

The same seed always gives the same inputs. Record bodies mix
incompressible bytes (uniform random) and compressible bytes (text
drawn from a small vocabulary) in the fixed ratio ``COMPRESSIBLE_FRAC``,
so the parquet write pays an encode and compression cost instead of
collapsing a constant payload to nothing.
"""

from __future__ import annotations

import os

import numpy as np

#: share of each record body that is compressible text; the rest is
#: uniform random bytes. An assumption, not a measurement: no traffic
#: sample is available, so the ratio sits halfway between an
#: incompressible body and a constant one.
COMPRESSIBLE_FRAC = 0.5

_VOCAB = (
    "stream record append read tail seq batch basin fence trim window "
    "merge sort join scan filter group agg hash key value row column "
    "table spark query data vector order part line slow fast big small "
    "the a customer dup v2 42 x-1 log"
).split()
#: the vocabulary as a padded (word, byte) table, each word with its
#: trailing space, and the mask of its real bytes
_WORD_LEN = np.array([len(w) + 1 for w in _VOCAB])
_TABLE = np.zeros((len(_VOCAB), _WORD_LEN.max()), dtype=np.uint8)
for _i, _w in enumerate(_VOCAB):
    _TABLE[_i, : len(_w) + 1] = np.frombuffer(_w.encode() + b" ", dtype=np.uint8)
_MASK = np.arange(_TABLE.shape[1]) < _WORD_LEN[:, None]


def _text(rng: np.random.Generator, nbytes: int) -> np.ndarray:
    """``nbytes`` of space-separated words drawn uniformly from the
    vocabulary, as uint8."""
    parts, have = [], 0
    while have < nbytes:
        idx = rng.integers(0, len(_VOCAB), size=(nbytes - have) // 4 + 16)
        parts.append(_TABLE[idx][_MASK[idx]])
        have += len(parts[-1])
    return np.concatenate(parts)[:nbytes]


def bodies(rng: np.random.Generator, n: int, size: int) -> list[bytes]:
    """``n`` bodies of exactly ``size`` bytes each: random bytes, then
    text."""
    n_text = int(size * COMPRESSIBLE_FRAC)
    out = np.empty((n, size), dtype=np.uint8)
    out[:, : size - n_text] = rng.integers(0, 256, size=(n, size - n_text), dtype=np.uint8)
    out[:, size - n_text :] = _text(rng, n * n_text).reshape(n, n_text)
    return [row.tobytes() for row in out]


def unary_ops(
    seed: int, n_ops: int, n_streams: int, per_batch: int, record_bytes: int
) -> list[tuple[str, list[bytes]]]:
    """The closed-loop op list: (stream, batch bodies), round-robin over
    ``n_streams`` streams so every run follows the same file-count
    trajectory."""
    rng = np.random.default_rng([seed, 1])
    return [
        (f"s{i % n_streams}", bodies(rng, per_batch, record_bytes))
        for i in range(n_ops)
    ]


def warm_bodies(seed: int, n: int, size: int) -> list[bytes]:
    """Throwaway bodies for warm-up ops, disjoint from the measured ones."""
    return bodies(np.random.default_rng([seed, 0]), n, size)


def bulk_bodies(seed: int, rep: int, n_records: int, record_bytes: int) -> list[bytes]:
    return bodies(np.random.default_rng([seed, 2, rep]), n_records, record_bytes)


def backlog(
    seed: int, n_records: int, n_streams: int, record_bytes: int
) -> tuple[list[str], list[bytes]]:
    """Connector backlog: a stream name and a body per record, streams
    drawn uniformly so their lengths differ run to run only by seed."""
    rng = np.random.default_rng([seed, 3])
    streams = [f"src{k}" for k in rng.integers(0, n_streams, size=n_records)]
    return streams, bodies(rng, n_records, record_bytes)


def live_bodies(seed: int, n_steps: int, per_step: int, record_bytes: int) -> list[list[bytes]]:
    rng = np.random.default_rng([seed, 4])
    return [bodies(rng, per_step, record_bytes) for _ in range(n_steps)]


# --- analytics tables -------------------------------------------------------

#: row counts at scale 1.0; the shapes follow the repo's sf0.1 fixtures
BASE_ROWS = {
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_US_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
_US_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def analytics_tables(seed: int, scale: float) -> dict:
    """The tables the 12 headline queries read, as pyarrow Tables."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 5])
    n = {k: max(20, int(v * scale)) for k, v in BASE_ROWS.items()}
    ts = lambda us: pa.array(us, pa.timestamp("us"))  # noqa: E731
    pick = lambda opts, m: pa.array(np.array(opts)[rng.integers(0, len(opts), m)])  # noqa: E731
    out = {
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        # a tenth of customers never order, so INTERSECT drops some keys
        "o_custkey": rng.integers(0, int(nc * 0.9), no),
        "o_orderstatus": pick(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 900.0, 500_000.0, no),
        "o_orderdate": ts(_US_1995 + rng.integers(0, 2400, no) * _DAY_US),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, 20_000, nl),
        "l_suppkey": rng.integers(0, 1_000, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], nl),
        "l_linestatus": pick(["F", "O"], nl),
        "l_shipdate": ts(_US_1995 + rng.integers(0, 2500, nl) * _DAY_US),
    })
    ne = n["events"]
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        # non-decreasing in event_id order, spread over January 2024
        "ts": ts(_US_2024 + np.sort(rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": rng.integers(0, max(10, int(1500 * scale)), ne),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(40.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(_VOCAB, size=int(k)))
        for k in rng.integers(8, 100, nd)
    ]
    for i in rng.integers(0, nd, nd // 50):  # ~2% exact duplicates
        texts[i] = texts[(i * 7 + 1) % nd]
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": pick(["de", "en", "en", "es", "fr", "zh"], nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nm = n["embeddings"]
    emb = rng.standard_normal((nm, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nm, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nm), pa.int32()),
    })
    return out


def write_analytics(seed: int, scale: float, out_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in analytics_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
