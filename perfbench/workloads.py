"""The benchmark's workloads and the layer map its traced run reports.

Each workload is a fixed list of registry keys run through
``__spark_entry__.queries()[key](spark, sf_dir)`` into a ``noop`` sink,
on one generated input directory.
"""

from __future__ import annotations

from dataclasses import dataclass

from gen import Sizes

# Tables each op reads (the FROM list of its DuckDB oracle); the sum of
# their row counts is the op's source rows for ``rows_per_s``.
OP_TABLES = {
    "job_batch_etl": ("events", "customer"),
    "stream_foreachbatch_sink": ("events",),
    "agg_groupby_multi": ("lineitem",),
    "rpt_shipping_priority": ("lineitem", "orders", "customer"),
    "rpt_product_profit": ("lineitem", "orders", "supplier", "part", "nation"),
    "join_skew_salted": ("lineitem", "supplier"),
    "rpt_basket_pairs": ("lineitem", "part"),
    "llm_dedup_clusters": ("documents",),
    "llm_char_ngram_entropy": ("documents",),
    "scan_mergetree_primary_index": ("orders",),
    "graph_triangle_count": ("lineitem",),
    "graph_pagerank": ("lineitem",),
    "graph_bfs_distance": ("lineitem",),
}


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    sizes: Sizes
    # seconds one warm pass takes on 4 cores; sizes the pass count to
    # ``--seconds``
    pass_s: float
    # the seed shuffles the op order of every pass (one closed-loop
    # client); otherwise the ops run in the listed order
    shuffle: bool = False

    def tables(self) -> list[str]:
        return sorted({t for op in self.ops for t in OP_TABLES[op]})


WORKLOADS = {
    w.name: w
    for w in [
        # The write path: JVM-bound shuffle + parquet writes, almost no
        # Python; holds the single-task JSON extract leg of the batch job.
        Workload(
            "etl_load",
            ("job_batch_etl", "stream_foreachbatch_sink"),
            Sizes.at(0.01, events_x=10),
            pass_s=2.0,
        ),
        # Read-only analytics bound by shuffle, sort and aggregation: the
        # graph keys, three keys to profile before optimizing, and
        # TPC-H-shaped reports as the control part.
        Workload(
            "query_mix",
            (
                "agg_groupby_multi",
                "rpt_shipping_priority",
                "rpt_product_profit",
                "join_skew_salted",
                "rpt_basket_pairs",
                "llm_dedup_clusters",
                "llm_char_ngram_entropy",
                "scan_mergetree_primary_index",
                "graph_triangle_count",
                "graph_pagerank",
                "graph_bfs_distance",
            ),
            Sizes.at(0.002),
            pass_s=10.0,
            shuffle=True,
        ),
    ]
}
