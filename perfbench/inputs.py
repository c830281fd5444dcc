"""Seeded benchmark inputs, written as parquet before any timed pass.

Every table derives from ``--seed`` alone, so the same seed gives the same
files.  The program under test only ever sees the files.

- clips: the audio clip table of ``dataverifyr_spark.audio.clips_table``,
  built from the same row generator, with the clip index range shifted by
  the seed and a ``bucket`` column for the ledger's ``--part-col``.
- lineitem / orders: TPC-H-shaped tables (the 11 lineitem columns of the
  sf0.1 fixtures) drawn from ``numpy.random.default_rng(seed)``.  Seeded
  perturbations give every rule of ``rules_table.yaml`` real failures:
  NULL prices (``allow_na``), orders missing from ``orders`` (reference
  rule) and re-ingested duplicate lines (uniqueness rule).  Duplicates sit
  next to their original, so they land in the same file and the per-file
  summary sees the same duplicates as the global one.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# clip index ranges of different seeds never overlap below this many clips
SEED_STRIDE = 1_000_000
BUCKETS = 8
NULL_PRICE_SHARE = 0.01
MISSING_ORDER_SHARE = 0.005
DUP_LINE_SHARE = 0.001

_EPOCH_1992 = np.datetime64("1992-01-02", "us")
_SHIP_DAYS = 2526  # 1992-01-02 .. 1998-12-01
_CUTOFF_DAY = 1260  # lines shipped before mid-1995 are returned (A/R) or not (N)


def clip_offset(seed: int, n_clips: int) -> int:
    return (seed % SEED_STRIDE) * n_clips + 1


def write_clips(path: str, seed: int, n_clips: int, n_files: int) -> int:
    """Write ``n_clips`` clips of the seeded index range as ``n_files``
    parquet files; returns the first clip index."""
    from dataverifyr_spark.audio.fixtures import _make_row

    first = clip_offset(seed, n_clips)
    os.makedirs(path)
    bounds = np.linspace(first, first + n_clips, n_files + 1).astype(int)
    for k in range(n_files):
        idx = range(bounds[k], bounds[k + 1])
        rows = [_make_row(i) for i in idx]
        cols = list(zip(*rows))
        table = pa.table(
            {
                "clip_id": pa.array(cols[0], pa.string()),
                "bytes": pa.array([bytes(b) for b in cols[1]], pa.binary()),
                "sr_hz": pa.array(cols[2], pa.int32()),
                "dur_ms": pa.array(cols[3], pa.int32()),
                "codec": pa.array(cols[4], pa.string()),
                "transcript": pa.array(cols[5], pa.string()),
                "bucket": pa.array([i % BUCKETS for i in idx], pa.int32()),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))
    return first


def _lineitem(
    rng: np.random.Generator, n_rows: int, file_starts: np.ndarray
) -> tuple[pa.Table, int]:
    """TPC-H-shaped lineitem rows sorted by order key; returns the table and
    the number of orders it references.  ``file_starts`` are the first rows
    of the output files: no duplicate is placed across a file boundary."""
    lines = rng.integers(1, 8, size=n_rows // 3 + 8)  # 4 lines per order on average
    orderkey = np.repeat(np.arange(1, lines.size + 1, dtype=np.int64), lines)[:n_rows]
    starts = np.concatenate([[0], np.cumsum(lines)[:-1]])
    linenumber = (np.arange(orderkey.size) - np.repeat(starts, lines)[:n_rows] + 1).astype(np.int32)

    # re-ingested lines: a duplicate directly after its original
    dups = np.flatnonzero(rng.random(n_rows - 1) < DUP_LINE_SHARE)
    dups = dups[~np.isin(dups + 1, file_starts)]
    src = np.arange(n_rows)
    src[dups + 1] = dups

    n_parts = max(n_rows // 30, 200)
    partkey = rng.integers(1, n_parts + 1, size=n_rows)
    quantity = rng.integers(1, 51, size=n_rows).astype(np.float64)
    # TPC-H p_retailprice, 900.00 .. 2098.99
    unit_price = (90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1000)) / 100.0
    price = np.round(quantity * unit_price, 2)
    price = np.where(rng.random(n_rows) < NULL_PRICE_SHARE, np.nan, price)
    ship_day = rng.integers(0, _SHIP_DAYS, size=n_rows)
    returned = rng.random(n_rows) < 0.5
    returnflag = np.where(ship_day < _CUTOFF_DAY, np.where(returned, "R", "A"), "N")
    cols = {
        "l_orderkey": orderkey[src],
        "l_partkey": partkey[src],
        "l_suppkey": (partkey[src] * 7 + 3) % max(n_rows // 600, 10),
        "l_linenumber": linenumber[src],
        "l_quantity": quantity[src],
        "l_extendedprice": price[src],
        "l_discount": rng.integers(0, 11, size=n_rows)[src] / 100.0,
        "l_tax": rng.integers(0, 9, size=n_rows)[src] / 100.0,
        "l_returnflag": returnflag[src],
        "l_linestatus": np.where(ship_day > _CUTOFF_DAY + 30, "O", "F")[src],
        "l_shipdate": _EPOCH_1992 + ship_day[src].astype("timedelta64[D]"),
    }
    table = pa.table(
        {
            k: pa.array(v, from_pandas=True) if k == "l_extendedprice" else pa.array(v)
            for k, v in cols.items()
        }
    )
    return table, int(orderkey[-1])


def _orders(rng: np.random.Generator, n_orders: int) -> pa.Table:
    """One row per order key, except a seeded share that is missing — the
    lines of those orders fail the reference rule."""
    keys = np.arange(1, n_orders + 1, dtype=np.int64)
    keys = keys[rng.random(n_orders) >= MISSING_ORDER_SHARE]
    n = keys.size
    return pa.table(
        {
            "o_orderkey": keys,
            "o_custkey": rng.integers(1, max(n_orders // 10, 10) + 1, size=n),
            "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), size=n),
            "o_totalprice": np.round(rng.uniform(800.0, 500_000.0, size=n), 2),
            "o_orderdate": _EPOCH_1992
            + rng.integers(0, _SHIP_DAYS, size=n).astype("timedelta64[D]"),
            "o_orderpriority": rng.choice(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), size=n
            ),
        }
    )


def write_tables(root: str, seed: int, n_rows: int, n_files: int) -> tuple[str, str]:
    """Write ``lineitem/`` as ``n_files`` parquet files and ``orders/`` as
    one; returns both directory paths."""
    rng = np.random.default_rng(seed)
    bounds = np.linspace(0, n_rows, n_files + 1).astype(int)
    lineitem, n_orders = _lineitem(rng, n_rows, bounds[1:-1])
    li_dir, ord_dir = os.path.join(root, "lineitem"), os.path.join(root, "orders")
    os.makedirs(li_dir)
    os.makedirs(ord_dir)
    for k in range(n_files):
        pq.write_table(
            lineitem.slice(bounds[k], bounds[k + 1] - bounds[k]),
            os.path.join(li_dir, f"part-{k:05d}.parquet"),
        )
    pq.write_table(_orders(rng, n_orders), os.path.join(ord_dir, "part-00000.parquet"))
    return li_dir, ord_dir
