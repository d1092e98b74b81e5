"""The three workloads: which flows, at which input size, into which sink.

Why each workload exists is in ``perfbench/README.md``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

RELATIONAL = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q18_large_orders", "cep_order_fulfillment", "sessionize_users",
    "sliding_window_qty", "time_window_daily", "hash_route_counts",
    "profile_lineitem",
]
CURATION = ["dedup_minhash_clusters", "semdedup_flags", "dsir_weights"]

#: name -> spec.  ``sf`` scales tools/gen_testdata.py's row counts
#: (sf 1.0 = 6M lineitems); ``warmup`` passes run after the cold pass
#: and are discarded; ``passes`` is the number of measured steady
#: passes at ``--seconds 10`` (scaled with --seconds); ``tables`` are
#: the inputs whose rows count as the workload's events.  BENCHMARK.json
#: lists curation and cep_stream; relational is run by hand (README.md).
WORKLOADS = {
    "relational": {"kind": "batch", "flows": RELATIONAL, "sink": "noop",
                   "sf": 0.005, "warmup": 1, "passes": 3,
                   "tables": ["lineitem", "orders", "customer", "supplier",
                              "nation", "region", "events"]},
    "curation": {"kind": "batch", "flows": CURATION, "sink": "parquet",
                 "sf": 0.02, "warmup": 0, "passes": 1,
                 "tables": ["documents", "embeddings"]},
    "cep_stream": {"kind": "stream", "flows": ["cep_order_fulfillment"],
                   "sink": "parquet", "sf": 0.001, "warmup": 0, "passes": 1,
                   "files": 2, "tables": ["orders", "lineitem"]},
}

STREAM_SCHEMA = "order_id bigint, type string, expected bigint, ts timestamp"
_ARROW_SCHEMA = pa.schema([("order_id", pa.int64()), ("type", pa.string()),
                           ("expected", pa.int64()), ("ts", pa.timestamp("us"))])
#: watermark delay: longer than the whole 1995-2001 event-time span, so
#: no event is ever late, whatever the file split
WATERMARK = "3000 days"
TIMEOUT_S = 30 * 86400
TICK_DAYS = 3100


def stage_order_events(sf_dir: str, out: str, n_files: int) -> int:
    """Write the order/parcel event stream as ``n_files`` time-ordered
    parquet files plus a closing tick far in the future, each file one
    second newer than the last (the file source reads oldest first).
    Returns the number of real events."""
    orders = pq.read_table(f"{sf_dir}/orders.parquet",
                           columns=["o_orderkey", "o_orderdate"]).to_pandas()
    items = pq.read_table(f"{sf_dir}/lineitem.parquet",
                          columns=["l_orderkey", "l_shipdate"]).to_pandas()
    parcels = items.groupby("l_orderkey").size()
    events = pd.concat([
        pd.DataFrame({
            "order_id": orders.o_orderkey, "type": "ORDER_CREATED",
            "expected": orders.o_orderkey.map(parcels).fillna(0).clip(lower=1).astype("int64"),
            "ts": orders.o_orderdate}),
        pd.DataFrame({
            "order_id": items.l_orderkey, "type": "PARCEL_SHIPPED",
            "expected": 0, "ts": items.l_shipdate}),
    ]).sort_values(["ts", "order_id", "type"], kind="stable").reset_index(drop=True)
    tick = pd.DataFrame({"order_id": [-1], "type": ["TICK"], "expected": [0],
                         "ts": [events.ts.max() + pd.Timedelta(days=TICK_DAYS)]})
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    parts = [events.iloc[idx] for idx in np.array_split(np.arange(len(events)), n_files)]
    mtime = 1_000_000_000
    for i, part in enumerate(parts + [tick]):
        path = os.path.join(out, f"events-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, schema=_ARROW_SCHEMA,
                                            preserve_index=False), path)
        os.utime(path, (mtime + i, mtime + i))
    return len(events)
