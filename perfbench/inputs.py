"""Seeded input generators.

The benchmark never reads fixtures from outside its checkout: every
table is generated here from ``--seed``, in the schemas the catalog
reads (FIXTURES.md sections 1-2). Value domains follow the fixture
tables - uniform keys and measures, the same string vocabularies, near
duplicate documents marked by a trailing ``dup`` token - so every
catalog query in the mixes returns non-empty results that its DuckDB
oracle reproduces.

Two generators:

* :func:`write_tables` - the star schema plus ``events``,
  ``documents`` and ``embeddings``, one parquet file per table.
* :class:`EventFeed` - the reactive workload's event files in the
  ``events.parquet`` schema: fresh ``event_id`` s, re-delivered
  duplicates, late events within the dedup watermark and users skewed
  toward a few hot symbols.

Everything is a pure function of the seed: the same seed gives
byte-identical parquet files (``test_perfbench.py`` checks it).
"""

from __future__ import annotations

import io
import os
from collections import deque
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_ADJ = ("small", "red", "blue", "hot", "old", "large", "green", "cold")
P_NOUN = ("ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
EMBED_DIM = 64

US_PER_DAY = 86_400_000_000
#: 1995-01-01 and 2024-01-01 as epoch microseconds.
EPOCH_1995 = 788_918_400_000_000
EPOCH_2024 = 1_704_067_200_000_000


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated input set."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    events: int
    users: int
    documents: int
    embeddings: int


#: Half the fixtures' sf0.1 relational volume (lineitem 300k) and a
#: 300-document, 300-vector LLM corpus: small enough for several whole
#: passes of the catalog mix within one run.
CATALOG_SCALE = Scale(7_500, 500, 10_000, 75_000, 300_000, 50_000, 750, 300, 300)


def _ts(us: np.ndarray, unit: str) -> pa.Array:
    """Epoch microseconds stored at ``unit`` precision, as the fixtures
    declare it: ``ns`` for event times (read through the engine's
    nanoseconds-as-long normalizer), ``ms`` for order and ship dates."""
    return pa.array(us.astype("int64"), type=pa.timestamp("us")).cast(pa.timestamp(unit))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    m = rng.standard_normal((n, EMBED_DIM))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype("float32")
    flat = pa.array(m.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype="int32"))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype("int32")),
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": _ts(ts, "ns"),
            "user_id": pa.array(rng.integers(0, users, n).astype("int64")),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def tables(seed: int, scale: Scale) -> dict[str, pa.Table]:
    """Every catalog input table at ``scale``, generated from ``seed``."""
    rng = np.random.default_rng(seed)
    s = scale
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype="int32")), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(s.customers, dtype="int64")),
            "c_name": _names("Customer", s.customers),
            "c_nationkey": pa.array(rng.integers(0, 25, s.customers).astype("int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.customers)),
            "c_mktsegment": _pick(rng, SEGMENTS, s.customers),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s.suppliers, dtype="int64")),
            "s_name": _names("Supplier", s.suppliers),
            "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers).astype("int32")),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.suppliers)),
        }
    )
    pk = np.arange(s.parts, dtype="int64")
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": pa.array(
                [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in rng.integers(0, 8, (s.parts, 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, s.parts)]),
            "p_type": _pick(rng, P_TYPES, s.parts),
            "p_size": pa.array(rng.integers(1, 51, s.parts).astype("int32")),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(s.orders, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, s.customers, s.orders).astype("int64")),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), s.orders),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, s.orders)),
            "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, s.orders) * US_PER_DAY, "ms"),
            "o_orderpriority": _pick(rng, PRIORITIES, s.orders),
        }
    )
    n = s.lineitems
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, s.orders, n).astype("int64")),
            "l_partkey": pa.array(rng.integers(0, s.parts, n).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, s.suppliers, n).astype("int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n),
            "l_linestatus": _pick(rng, ("F", "O"), n),
            "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2498, n)) * US_PER_DAY, "ms"),
        }
    )
    out["events"] = _events(rng, s.events, s.users)
    out["documents"] = _documents(rng, s.documents)
    out["embeddings"] = _embeddings(rng, s.embeddings)
    return out


def parquet_bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def write_tables(seed: int, scale: Scale, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row
    counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


# --------------------------------------------------------------------------
# Reactive event feed
# --------------------------------------------------------------------------

#: Share of users per symbol bucket (``user_id % 4`` picks the symbol in
#: operators.ticker.derive_ticker): a few hot symbols take most events.
SYMBOL_SKEW = (0.6, 0.25, 0.1, 0.05)


@dataclass(frozen=True)
class FeedShape:
    """Shape of the reactive event files."""

    rows_per_file: int
    #: Share of each file's rows that re-deliver an event of one of the
    #: previous ``dup_lookback`` files, byte-for-byte.
    dup_share: float = 0.03
    dup_lookback: int = 5
    #: Share of rows whose event time lags the file's event-time base by
    #: up to ``late_max_s`` - inside the pipeline's 2 hour dedup
    #: watermark, so no late row is dropped.
    late_share: float = 0.05
    late_max_s: int = 3_600
    #: Event-time span each file covers.
    file_span_s: int = 60
    users: int = 1_500


class EventFeed:
    """Deterministic sequence of event files: file ``i`` depends only on
    the seed and ``i`` (duplicates copy rows of earlier files, which are
    themselves deterministic). Iterate in order with :meth:`next_file`.
    """

    def __init__(self, seed: int, shape: FeedShape):
        self.seed = seed
        self.shape = shape
        self.index = 0
        self.injected_dups = 0
        self._recent: deque[pa.Table] = deque(maxlen=shape.dup_lookback)

    def next_file(self) -> pa.Table:
        sh = self.shape
        i = self.index
        rng = np.random.default_rng([self.seed, i])
        n_dup = int(round(sh.rows_per_file * sh.dup_share)) if self._recent else 0
        n = sh.rows_per_file - n_dup
        base = EPOCH_2024 + i * sh.file_span_s * 1_000_000
        ts = base + rng.integers(0, sh.file_span_s * 1_000_000, n)
        late = rng.random(n) < sh.late_share
        ts[late] = base - rng.integers(1, sh.late_max_s * 1_000_000, int(late.sum()))
        bucket = rng.choice(4, size=n, p=SYMBOL_SKEW)
        users = (rng.integers(0, sh.users // 4, n) * 4 + bucket).astype("int64")
        fresh = pa.table(
            {
                "event_id": pa.array(i * sh.rows_per_file + np.arange(n, dtype="int64")),
                "ts": _ts(ts, "ns"),
                "user_id": pa.array(users),
                "event_type": _pick(rng, EVENT_TYPES, n),
                "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
            }
        )
        parts = [fresh]
        if n_dup:
            pool = pa.concat_tables(list(self._recent))
            parts.append(pool.take(rng.choice(pool.num_rows, n_dup, replace=False)))
            self.injected_dups += n_dup
        self._recent.append(fresh)
        self.index += 1
        return pa.concat_tables(parts)
