"""Seeded inputs for the benchmark.

``write_tables`` writes the analytics tables in the shape of the
engine's sf0.1 test data (same names, columns, Arrow types, row
counts, value domains and one row group per file), drawn from a
NumPy generator seeded by the benchmark's ``--seed``. ``IngestDocs``
generates the PDFs the ingest workload uploads, with the KPI values
each one must land with.
"""

from __future__ import annotations

import os
import random
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts (lineitem: ~600,000, 1-7 per order)
ROWS = {
    "customer": 15_000,
    "orders": 150_000,
    "events": 100_000,
}
N_USERS = 1_500
N_PARTS = 20_000
N_SUPPLIERS = 1_000

_US_PER_DAY = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(choices), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(choices)
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _nation() -> pa.Table:
    keys = np.arange(25, dtype=np.int32)
    return pa.table(
        {
            "n_nationkey": keys,
            "n_name": [f"NATION_{k}" for k in keys],
            "n_regionkey": (keys % 5).astype(np.int32),
        }
    )


def _customer(rng: np.random.Generator) -> pa.Table:
    n = ROWS["customer"]
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(
                rng,
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n,
            ),
        }
    )


def _orders(rng: np.random.Generator) -> pa.Table:
    n = ROWS["orders"]
    start = _epoch_us(1995, 1, 1)
    days = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, ROWS["customer"], n).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _ts(start + days * _US_PER_DAY),
            "o_orderpriority": _pick(
                rng,
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n,
            ),
        }
    )


def _lineitem(rng: np.random.Generator) -> pa.Table:
    # 1-7 lines per order, numbered from 1, so (l_orderkey, l_linenumber)
    # is a key as in TPC-H and every ORDER BY on it is total.
    per_order = rng.integers(1, 8, ROWS["orders"])
    n = int(per_order.sum())
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    start = _epoch_us(1995, 1, 2)
    days = rng.integers(0, 2498, n)  # 1995-01-02 .. 2001-11-04
    return pa.table(
        {
            "l_orderkey": np.repeat(np.arange(ROWS["orders"], dtype=np.int64), per_order),
            "l_partkey": rng.integers(0, N_PARTS, n).astype(np.int64),
            "l_suppkey": rng.integers(0, N_SUPPLIERS, n).astype(np.int64),
            "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _ts(start + days * _US_PER_DAY),
        }
    )


def _events(rng: np.random.Generator) -> pa.Table:
    n = ROWS["events"]
    start = _epoch_us(2024, 1, 1)
    offs = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    ks = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(start + offs),
            "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
            "event_type": _pick(
                rng, ["click", "error", "purchase", "signup", "view"], n
            ),
            "value": np.round(np.minimum(rng.exponential(80.0, n), 560.0), 2),
            "props": [f'{{"k": {k}}}' for k in ks],
        }
    )


_BUILDERS = {
    "nation": lambda rng: _nation(),
    "customer": _customer,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
}


def make_tables(seed: int, names) -> dict[str, pa.Table]:
    """The named tables for ``seed``; each table draws from its own
    stream, so a table does not change when another is added."""
    out = {}
    for i, name in enumerate(sorted(names)):
        rng = np.random.default_rng([seed, i, len(name)])
        out[name] = _BUILDERS[name](rng)
    return out


def write_tables(seed: int, names, out_dir: str) -> None:
    """Write ``{out_dir}/{name}.parquet`` (one row group, like the test
    data) for every named table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, names).items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=table.num_rows,
        )


# ---------------------------------------------------------------------------
# Ingest documents
# ---------------------------------------------------------------------------

STATUSES = ("Active", "Approved", "Pending", "Rejected")


def build_pdf(lines: list[str]) -> bytes:
    """A minimal valid one-page PDF whose Flate-compressed content
    stream shows one text line per entry, with a correct xref table."""
    ops = ["BT", "/F1 12 Tf", "72 720 Td"]
    for i, line in enumerate(lines):
        esc = line.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        ops.extend((["0 -14 Td"] if i else []) + [f"({esc}) Tj"])
    ops.append("ET")
    stream = zlib.compress("\n".join(ops).encode("latin-1"))
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(stream)
        + stream + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objects, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + obj + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objects) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objects) + 1, xref,
    )
    return bytes(out)


class IngestDocs:
    """Deterministic document stream for the ingest workload: document
    ``(round, tenant, j)`` always has the same file name, KPI values
    and bytes for a given seed."""

    def __init__(self, seed: int):
        self.seed = seed

    def doc(self, rnd: int, tenant: int, j: int) -> dict:
        rng = random.Random(f"{self.seed}/{rnd}/{tenant}/{j}")
        cents = rng.randrange(100, 10_000_000)
        status = rng.choice(STATUSES)
        amount = f"${cents // 100}.{cents % 100:02d}"
        return {
            "filename": f"r{rnd:04d}_t{tenant}_d{j:03d}.pdf",
            "amount": cents / 100.0,
            "status": status,
            "content": build_pdf(
                [f"Invoice {rnd}-{tenant}-{j}",
                 f"Total Amount ($): {amount}",
                 f"Status: {status}"]
            ),
        }
