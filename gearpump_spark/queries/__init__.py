"""Query registry — the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers here as a named
query: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) an ANSI-SQL oracle string that DuckDB runs
over the same parquet files. The driver hash-compares both sides at
sf=0.01; column names/aliases MUST match between the two.

Determinism rules every registered query follows:
- No LIMIT without a total tie-breaking ORDER BY.
- Float aggregates rounded (summation order differs between engines).
- Timestamps stay native; the session is pinned to UTC.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from gearpump_spark.session import ensure_runtime_conf


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB-runnable ANSI SQL, or None → rows-only check
    desc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, desc: str = ""):
    """Decorator: add a query to the registry."""

    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_runtime_conf(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name, wrapped, oracle, desc)
        return fn

    return deco


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load()
    return {name: q.fn for name, q in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _load()
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle}


_LOADED = False

# The driver's correctness gate samples the FIRST 50 registered queries, so
# the sample window is CURATED, not emergent: every operator family's
# flagship queries are pinned here explicitly, and _load() reorders the
# registry to put them first (remaining queries keep module import order).
# A name listed here but not registered is a hard error — the curation list
# cannot silently rot. tests/test_registry_order.py pins family coverage.
# The round in which DRIVER_SAMPLE_WINDOW below was authored. The
# staleness ratchet (tests/test_registry_order.py) judges the window
# against the CORRECTNESS artifacts that existed BEFORE this round —
# the window's own results landing (CORRECTNESS_r{ROUND}.json, written
# by the driver AFTER the round's last commit) must not retroactively
# turn the tree red, which is exactly what happened at the r5/r6
# boundary (r5 VERDICT "What's wrong" #1). Bump this whenever the
# window rotates.
DRIVER_SAMPLE_WINDOW_ROUND = 11

DRIVER_SAMPLE_WINDOW = [
    # ROUND-11 ROTATION. Policy unchanged: never-driver-oracle-verified
    # first (none remain), then the stalest records; ZERO slots on
    # rows-only queries. Staleness is judged on the artifacts that
    # existed before this round (CORRECTNESS_r01..r10).
    #
    # -- the full remaining round-5 cohort (40 oracle-backed queries whose
    #    newest green is CORRECTNESS_r05, the stalest records), in
    #    registration order. --
    "similarity_ivf_recall",
    "multimodal_mulaw_real",
    "embedding_center_project",
    "multimodal_qoi_real",
    "multimodal_tiff_pixels_real",
    "graph_assortativity",
    "q_psi_drift",
    "q_benford_digits",
    "q_fd_violations",
    "multimodal_wav_resample",
    "text_kl_source_drift",
    "graph_harmonic_centrality",
    "dedup_soft_weights",
    "sketch_ams_f2",
    "sample_weighted_reservoir",
    "q_moving_zscore",
    "q_ewma_smooth",
    "q_interp_gapfill",
    "q_mad_outliers",
    "q_running_distinct",
    "q_event_transitions",
    "q_temporal_lookup",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_volume_customer",
    "q_snapshot_diff",
    "q_file_skip_stats",
    "q2_min_acctbal_supplier",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_count",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q22_idle_customers",
    "q11_important_parts",
    "q12_ship_priority_class",
    "q20_excess_part_suppliers",
    "q21_last_shipper",
    # -- 10 of the 50 round-6 records (the next-stalest), registration
    #    order; the remaining 40 head the r12 rotation. --
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "embedding_quantize_binary",
    "similarity_topk_hamming",
    "similarity_mmr_rerank",
    "similarity_binary_rerank",
    "graph_jaccard_neighbors",
    "multimodal_jpeg_lossless_real",
    "sample_poisson_bootstrap",
    "wordcount",
]


def _load() -> None:
    """Import every query module (each registers on import), then reorder
    the registry so DRIVER_SAMPLE_WINDOW registers first."""
    global _LOADED
    if _LOADED:
        return
    import gearpump_spark.queries.llm  # noqa: F401
    import gearpump_spark.queries.sketches  # noqa: F401
    import gearpump_spark.queries.sampling  # noqa: F401
    import gearpump_spark.queries.dataflow  # noqa: F401
    import gearpump_spark.queries.temporal  # noqa: F401
    import gearpump_spark.queries.relational  # noqa: F401
    import gearpump_spark.queries.tpch_extra  # noqa: F401

    missing = [n for n in DRIVER_SAMPLE_WINDOW if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"DRIVER_SAMPLE_WINDOW names not registered: {missing}")
    ordered = {n: REGISTRY[n] for n in DRIVER_SAMPLE_WINDOW}
    ordered.update((n, q) for n, q in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)

    _LOADED = True
