"""The benchmark's workloads: which ops run, on what inputs, in which loop.

Every op is one call into the engine followed by materialising its
result to the driver (`collect()`); the op's latency is that whole call.
`ensure_index` is the one op that returns a store root instead of a
DataFrame.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

SERVING = [
    "gmv_daily", "sugar_envelope", "top_trademarks", "top_categories", "top_spus",
    "visitor_new_rollup", "visitor_hourly", "keyword_score", "province_rollup",
    "bounce_ratio",
]
CURATION = [
    "ensure_index",
    "minhash_lsh_pairs_from_index", "ann_ivf_topk_from_index",
    "knn_graph_capped_from_index", "bpe_doc_tokens_from_index",
    "minhash_lsh_pairs", "simhash_neardup_pairs", "dedup_exact", "text_quality",
    "token_count", "ann_ivf_topk", "curate_corpus",
]
STREAMS = [
    "stream_visitor_stats", "stream_uv_dedup", "stream_jump_detect",
    "stream_dim_enrich", "stream_keyword_stats",
]


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float                 # input scale factor (see gen.ROWS_PER_SF)
    ops: list[str]            # one cycle, in this order...
    shuffled: tuple[str, ...]  # ...except these, which follow in a seeded order
    input_tables: tuple[str, ...]  # the tables whose rows count as input
    warmup: bool              # one untimed cycle before the window
    fresh: tuple[str, ...]    # ops that read a fresh copy of the inputs each cycle
    index_store: bool         # SPARK_GRAFT_INDEX_DIR set (fresh, empty)
    cycle_s: float            # nominal cycle time; sizes the window in cycles


WORKLOADS = {
    w.name: w for w in (
        Workload(
            "dashboard_stream", 0.02, STREAMS + SERVING, tuple(SERVING),
            ("orders", "lineitem", "part", "events", "customer", "nation", "documents"),
            warmup=True, fresh=tuple(STREAMS), index_store=False, cycle_s=7.5,
        ),
        Workload(
            "curation_index", 0.01, CURATION, (), ("documents", "embeddings"),
            warmup=False, fresh=tuple(CURATION), index_store=True, cycle_s=16.0,
        ),
    )
}


def link_copy(src: str, dst: str) -> str:
    """A fresh directory holding hard links to `src`'s parquet files: the
    same bytes under a new path, so the engine's per-(session, sf_dir)
    memos and the index store see a corpus they have not seen."""
    os.makedirs(dst)
    for name in os.listdir(src):
        if name.endswith(".parquet"):
            os.link(os.path.join(src, name), os.path.join(dst, name))
    return dst


def run_op(spark, name: str, sf_dir: str, on_built=None):
    """Run one op to a materialised result: (columns, rows) for queries,
    the store root for `ensure_index`."""
    if name == "ensure_index":
        from gmallbiguan_parent_spark.operators import index_store

        root = index_store.ensure_index(spark, sf_dir)
        if on_built:
            on_built()
        return root
    from gmallbiguan_parent_spark.pipelines import all_queries

    df = all_queries()[name](spark, sf_dir)
    if on_built:
        on_built()
    return df.columns, df.collect()
