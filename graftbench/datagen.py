"""Seeded inputs in the shape of the sf0.1 fixture tables.

Column names, types, value ranges and cardinalities follow the sf0.1
fixtures (100k ``events`` rows, 600k ``lineitem`` rows, 150k
``orders``); the values are drawn from ``numpy`` with the run's seed,
so the same seed writes byte-identical inputs. Timestamps are written
as naive TIMESTAMP(MICROS), the layout the sf0.1 fixtures use.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_ROWS = 100_000
USERS = 1_500
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_DAYS = 30

# star-schema row counts at sf0.1; ``write_star`` scales them
ORDERS_ROWS = 150_000
LINEITEM_ROWS = 600_000
CUSTOMERS = 15_000
SUPPLIERS = 1_000
PARTS = 20_000
NATIONS = 25
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "fr", "de", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
DUP_SHARE = 0.05


def _rng(seed: int, stream: int) -> np.random.Generator:
    """One independent generator per table group; any integer seed works
    (numpy seeds must be non-negative)."""
    return np.random.default_rng([seed % 2**64, stream])


def _write(path: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), path, compression="snappy")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def events(rng, rows: int = EVENTS_ROWS) -> pa.Table:
    """Event telemetry, ordered by ``ts`` with ``event_id`` as its rank."""
    offs = np.sort(rng.integers(0, EVENTS_DAYS * 86_400_000_000, rows))
    return pa.table(
        {
            "event_id": np.arange(rows, dtype=np.int64),
            "ts": pa.array(EVENTS_START + offs.astype("timedelta64[us]")),
            "user_id": rng.integers(0, USERS, rows),
            "event_type": pa.array(EVENT_TYPES, pa.string()).take(
                rng.integers(0, len(EVENT_TYPES), rows)
            ),
            "value": np.round(rng.exponential(50.0, rows), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
        }
    )


def seeded_events(seed: int) -> pa.Table:
    return events(_rng(seed, 1))


def write_events(out_dir: str, seed: int) -> pa.Table:
    table = seeded_events(seed)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    return table


def write_star(out_dir: str, seed: int, share: float = 1.0) -> None:
    """nation, region, customer, supplier, part, orders and lineitem,
    with ``share`` of the sf0.1 row counts (dimensions stay whole)."""
    rng = _rng(seed, 2)
    customers, suppliers, parts, orders = (
        round(n * share) for n in (CUSTOMERS, SUPPLIERS, PARTS, ORDERS_ROWS)
    )
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731
    _write(
        p("region"),
        {
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": list(REGIONS),
        },
    )
    _write(
        p("nation"),
        {
            "n_nationkey": pa.array(range(NATIONS), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(NATIONS)],
            "n_regionkey": pa.array(
                [i % len(REGIONS) for i in range(NATIONS)], pa.int32()
            ),
        },
    )
    _write(
        p("customer"),
        {
            "c_custkey": np.arange(customers, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(customers)],
            "c_nationkey": rng.integers(0, NATIONS, customers, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, customers),
            "c_mktsegment": pa.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            ).take(rng.integers(0, 5, customers)),
        },
    )
    _write(
        p("supplier"),
        {
            "s_suppkey": np.arange(suppliers, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
            "s_nationkey": rng.integers(0, NATIONS, suppliers, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, suppliers),
        },
    )
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    keys = np.arange(parts, dtype=np.int64)
    _write(
        p("part"),
        {
            "p_partkey": keys,
            "p_name": [
                f"{adjectives[a]} {nouns[b]}"
                for a, b in zip(
                    rng.integers(0, 8, parts), rng.integers(0, 8, parts)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, parts)],
            "p_type": pa.array(
                ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
            ).take(rng.integers(0, 6, parts)),
            "p_size": rng.integers(1, 51, parts, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        },
    )
    _write(
        p("orders"),
        {
            "o_orderkey": np.arange(orders, dtype=np.int64),
            "o_custkey": rng.integers(0, customers, orders),
            "o_orderstatus": pa.array(["F", "O", "P"]).take(
                rng.integers(0, 3, orders)
            ),
            "o_totalprice": _money(rng, 1000.0, 500000.0, orders),
            "o_orderdate": pa.array(
                _days(rng, "1995-01-01", "2001-08-01", orders)
            ),
            "o_orderpriority": pa.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            ).take(rng.integers(0, 5, orders)),
        },
    )
    n = round(LINEITEM_ROWS * share)
    _write(
        p("lineitem"),
        {
            "l_orderkey": rng.integers(0, orders, n),
            "l_partkey": rng.integers(0, parts, n),
            "l_suppkey": rng.integers(0, suppliers, n),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(["A", "N", "R"]).take(
                rng.integers(0, 3, n)
            ),
            "l_linestatus": pa.array(["F", "O"]).take(rng.integers(0, 2, n)),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n)),
        },
    )


def write_documents(out_dir: str, seed: int, rows: int) -> None:
    """Token soup over a 30-word vocabulary, 10-100 tokens a document;
    5% of documents repeat an earlier one with a trailing ``dup`` token,
    which gives the near-duplicate queries their clusters."""
    rng = _rng(seed, 3)
    texts: list[str] = []
    for i in range(rows):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[t] for t in rng.integers(0, len(VOCAB), n)))
    _write(
        os.path.join(out_dir, "documents.parquet"),
        {
            "doc_id": np.arange(rows, dtype=np.int64),
            "text": texts,
            "lang": pa.array(LANGS).take(rng.choice(len(LANGS), rows, p=LANG_P)),
            "source": [f"src{i % 20}" for i in range(rows)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )
