"""Seeded synthetic star-schema tables for the benchmark.

Writes the ten tables the query corpus reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the schemas and value domains of the repository's test
tables: money columns are exactly 2-decimal, dates are midnight
timestamps, ``events.ts`` is a naive timestamp on distinct whole
seconds, documents draw from a 30-word vocabulary with 5%
near-duplicates (a copy of an earlier document plus one word) and
embeddings are unit vectors around ten label centroids.

Row counts scale with ``sf`` like the test tables (``lineitem`` holds
about 6M x sf rows); the same ``(seed, sf)`` always writes the same data.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = "red new hot small cold large old blue".split()
_NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
_SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
EVENT_TYPES = "click error purchase signup view".split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_DIM = 64


def _money(rng: np.random.Generator, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    return rng.integers(lo_cents, hi_cents + 1, n) / 100.0


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> pa.Array:
    d = np.datetime64(start, "D") + rng.integers(0, span_days + 1, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(_WORDS, dtype=object)
    lengths = rng.integers(10, 96, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # 5% near-duplicates: an earlier document's text plus one marker word
    for i in rng.choice(np.arange(n // 2, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_pick(rng, _LANGS, n, _LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` unit vectors around ten random centroids, and their labels."""
    centroids = rng.standard_normal((10, _DIM))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + 1.5 * rng.standard_normal((n, _DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels.astype(np.int32)


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``(seed, sf)`` as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_o, n_e = int(1_500_000 * sf), int(1_000_000 * sf)
    n_l = 4 * n_o
    n_d = max(500, int(50_000 * sf))
    n_v = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
            "c_acctbal": _money(rng, -99_999, 999_999, n_c),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_c),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype(np.int32)),
            "s_acctbal": _money(rng, -99_999, 999_999, n_s),
        }
    )
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
            "p_name": _pick(rng, names, n_p),
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
            "p_type": _pick(rng, _TYPES, n_p),
            "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32)),
            "p_retailprice": 900.0 + (np.arange(n_p) % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_o),
            "o_totalprice": _money(rng, 100_000, 50_000_000, n_o),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_o),
            "o_orderpriority": _pick(rng, PRIORITIES, n_o),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l)),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l)),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, 90_000, 10_500_000, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_l),
            "l_linestatus": _pick(rng, ["F", "O"], n_l),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_l),
        }
    )
    # distinct whole seconds: the engine's sessionize measures gaps in
    # whole seconds while its SQL oracle compares exact intervals, so a
    # sub-second remainder at the 30-minute gap would split the two
    secs = np.sort(rng.choice(30 * 86_400, n_e, replace=False))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + secs.astype("timedelta64[s]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_e)),
            "event_type": _pick(rng, EVENT_TYPES, n_e),
            "value": np.round(rng.exponential(5_000.0, n_e)) / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
        }
    )
    t["documents"] = _documents(rng, n_d)
    vecs, labels = embeddings(rng, n_v)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_v, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n_v + 1) * _DIM, _DIM, dtype=np.int32)),
                pa.array(vecs.ravel()),
            ),
            "label": pa.array(labels),
        }
    )
    return t


def write_tables(
    out_dir: Path, seed: int, sf: float, names: tuple[str, ...] = tuple(TABLES)
) -> dict[str, pa.Table]:
    """Write the tables in ``names`` to ``out_dir/{name}.parquet``; returns them."""
    out_dir.mkdir(parents=True, exist_ok=True)
    tables = {n: t for n, t in build_tables(seed, sf).items() if n in names}
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return tables
