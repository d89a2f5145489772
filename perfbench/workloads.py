"""The benchmark's workloads: which registry entries each one runs, and the
warehouse layer each entry's metrics are charged to.

Entry names are registry names (``__spark_entry__.queries()``). Layers are
the repo's modules: the batch ``sources`` + ``operators`` + ``queries`` code
grouped by warehouse layer (dwd / dwm / dws), ``extras.graph`` as ``graph``,
and the ``streaming.topology`` queries as ``stream.<q>``.
"""

from __future__ import annotations

#: workload -> [(entry, layer)], run in this order, one after another.
#: Two workloads, not three: the graph entries close the batch workload
#: rather than run as their own, because a full check of three fresh-process
#: workloads does not fit its time budget on 4 cores (README.md, "Sizing").
WORKLOADS: dict[str, list[tuple[str, str]]] = {
    # The reference warehouse replayed in batch, then the iterative graph
    # kernels. JVM SQL operators, scans and shuffle do most of the batch
    # work; the graph entries are many short driver-synchronous jobs (rounds
    # plus checkpoints), the fixed-cost-bound shape. No streaming machinery
    # runs and little Python does: the bypass workload for streaming changes.
    "batch_layers": [
        ("is_new_repair", "dwd"),
        ("display_explode", "dwd"),
        ("cdc_route", "dwd"),
        ("unique_visit", "dwm"),
        ("bounce_detect", "dwm"),
        ("order_wide", "dwm"),
        ("payment_wide", "dwm"),
        ("visitor_stats", "dws"),
        ("product_stats_full", "dws"),
        ("keyword_stats", "dws"),
        ("province_stats_sql", "dws"),
        ("label_communities", "graph"),
        ("pagerank_trade", "graph"),
    ],
    # Four concurrent queries chained through parquet handoffs, with
    # per-trigger WAL and state commits and pandas keyed state: the same
    # DWD/DWM/DWS semantics as batch_layers by a different path, so an
    # operator change that helps one and costs the other shows up. The
    # bypass workload for graph and batch-operator changes.
    "stream_topology": [("streaming_warehouse_e2e", "stream")],
}

#: stage-metric layers (timed registry calls + Spark's status store)
STAGE_LAYERS = ("dwd", "dwm", "dws", "graph")

#: topology queries, matched by the last path component of a file sink;
#: the topology's only memory sink is the DWS query
STREAM_QUERIES = ("dwd_page", "dwm_uv", "dwm_uj", "dws_visitor")
