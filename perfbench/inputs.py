"""Seeded benchmark inputs.

The default seed runs the sf0.01 testdata as is. Any other seed writes a
variant: a seeded sample of customers with their orders, lineitems and
events, every sampled table's rows permuted, the other tables copied. The
variant keeps referential integrity, so every oracle still applies, and it
is close to the source in size, so timings on different seeds are comparable.
"""

from __future__ import annotations

import os
import shutil

#: sf0.01, not sf0.1: a run is one fresh process and every run checks every
#: entry against its oracle, and at sf0.1 the runs a full check makes do not
#: fit its time budget on 4 cores (see README.md, "Sizing")
SF_DIR = "/root/testdata/sf0.01"
DEFAULT_SEED = 0
#: share of customers a variant keeps
KEEP = 0.95


def prepare(seed: int, out_dir: str, src: str = SF_DIR) -> str:
    """Return the input dir for ``seed``: ``src`` itself for the default
    seed, otherwise a variant written to ``out_dir``."""
    if seed == DEFAULT_SEED:
        return src
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)

    def read(t: str) -> pa.Table:
        return pq.read_table(os.path.join(src, f"{t}.parquet"))

    customer = read("customer")
    customer = customer.filter(pa.array(rng.random(customer.num_rows) < KEEP))
    orders = read("orders")
    orders = orders.filter(pc.is_in(orders["o_custkey"], customer["c_custkey"]))
    lineitem = read("lineitem")
    lineitem = lineitem.filter(pc.is_in(lineitem["l_orderkey"], orders["o_orderkey"]))
    events = read("events")
    events = events.filter(pc.is_in(events["user_id"], customer["c_custkey"]))
    sampled = {"customer": customer, "orders": orders, "lineitem": lineitem, "events": events}

    os.makedirs(out_dir, exist_ok=True)
    for name in sorted(os.listdir(src)):
        table = name.removesuffix(".parquet")
        dst = os.path.join(out_dir, name)
        if table in sampled:
            t = sampled[table]
            pq.write_table(t.take(pa.array(rng.permutation(t.num_rows))), dst)
        else:
            shutil.copyfile(os.path.join(src, name), dst)
    return out_dir
