"""The benchmark's inputs.

``data/sf0.01`` is a byte-identical copy of the engine's sf0.01 test
fixture and ``data/sf0.1/orders.parquet`` of the sf0.1 ``orders`` table,
kept in the benchmark's own directory so a run reads nothing outside its
checkout. ``scaled_layout`` derives a larger TPC-H layout from sf0.01;
``lake_base`` derives the lakehouse table's base rows from sf0.1 orders.
None of them depends on the seed: the seed fixes only the call order and
the lake changesets.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SF001 = os.path.join(DATA, "sf0.01")
SF01_ORDERS = os.path.join(DATA, "sf0.1", "orders.parquet")

# Key columns shifted per replica, so that every replica is a disjoint copy
# and join cardinalities scale linearly; other tables are copied once.
SCALE_KEYS = {
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
}
SCALE_BASE = 1 << 33  # above every sf0.01 key


def tree_sig(path: str, suffix: str = "") -> str:
    """SHA-1 over the relative names and bytes of the files under ``path``."""
    h = hashlib.sha1()
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(suffix):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, path).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def scaled_layout(out_dir: str, factor: int, src: str = SF001) -> str:
    """Write ``factor`` key-shifted replicas of each table of ``src`` under
    ``out_dir`` unless they are already there; return ``out_dir``. One row
    group per replica, so scans split as the replicas do. The directory is
    staged and renamed into place, so a killed run never leaves a partial
    layout."""
    if os.path.isdir(out_dir):
        return out_dir
    stage = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    for f in sorted(os.listdir(src)):
        t = pq.read_table(os.path.join(src, f))
        keys = SCALE_KEYS.get(f.removesuffix(".parquet"))
        if not keys:
            shutil.copyfile(os.path.join(src, f), os.path.join(stage, f))
            continue
        with pq.ParquetWriter(os.path.join(stage, f), t.schema, compression="snappy") as w:
            for i in range(factor):
                r = t
                for k in keys:
                    col = r.column(k)
                    shifted = pc.add(pc.cast(col, pa.int64()), i * SCALE_BASE)
                    r = r.set_column(r.schema.get_field_index(k), k, pc.cast(shifted, col.type))
                w.write_table(r)
    os.rename(stage, out_dir)
    return out_dir


def lake_base() -> pa.Table:
    """Base rows of the lakehouse table, from sf0.1 ``orders``: unique key
    ``k`` (the order key), the total price in cents and the order status."""
    o = pq.read_table(SF01_ORDERS, columns=["o_orderkey", "o_totalprice", "o_orderstatus"])
    cents = pc.cast(pc.round(pc.multiply(o.column("o_totalprice"), 100.0)), pa.int64())
    return pa.table({
        "k": pc.cast(o.column("o_orderkey"), pa.int64()),
        "cents": cents,
        "status": o.column("o_orderstatus"),
    })
