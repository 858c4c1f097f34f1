import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("GEARPUMP_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from gearpump_spark.session import get_spark

    spark = get_spark("gearpump_spark_tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class BuiltQuery(NamedTuple):
    """One registered query built at sf0.001: its DataFrame (or the build
    error as a string), an (input-row accumulator, input DataFrame) pair
    per mapInPandas call made while building it, and its initial physical
    plan as executedPlan().toString() and as simpleString()."""

    df: object
    nodes: list
    executed_plan: str
    simple_plan: str


_building = threading.local()


@pytest.fixture(scope="session")
def built(spark):
    """Every registered query built once, with mapInPandas wrapped to
    count each Python node's input rows inside the worker, for the tests
    that read every query's plan or count its Python stage runs. The
    plans are read here, before any test executes a query."""
    from gearpump_spark.queries import all_queries

    cls = type(spark.range(1))
    original = cls.mapInPandas

    def counted(self, func, schema, *args, **kwargs):
        acc = spark.sparkContext.accumulator(0)

        def run(batches, func=func, acc=acc):
            def rows(batches):
                for pdf in batches:
                    acc.add(len(pdf))
                    yield pdf

            return func(rows(batches))

        _building.nodes.append((acc, self))
        return original(self, run, schema, *args, **kwargs)

    def build(item):
        name, fn = item
        _building.nodes = []
        try:
            df = fn(spark, "/root/testdata/sf0.001")
            qe = df._jdf.queryExecution()
            return name, BuiltQuery(
                df, _building.nodes, qe.executedPlan().toString(), qe.simpleString()
            )
        except Exception as e:  # noqa: BLE001 — reported by the tests
            return name, BuiltQuery(f"build failed: {type(e).__name__}: {e}", [], "", "")

    cls.mapInPandas = counted
    try:
        with ThreadPoolExecutor(max_workers=4) as ex:
            queries = dict(ex.map(build, all_queries().items()))
    finally:
        cls.mapInPandas = original
    return queries


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


# Driver-profile slow tier (r11, r10 verdict "Next round" #3): the full
# suite is ~23-26 min on this rig and the r10 driver's pytest run hit its
# time cap mid-suite. These tests — the oracle-unroll/property-trainer/
# numpy-golden/registry-sweep tier, every one >= ~4 s in the r11 timing
# run (/tmp archive: 690 passed, durations=250) — are marked `slow` and
# excluded by the default `-m "not slow"` in pytest.ini, keeping the
# driver's `pytest tests/ -x -q` under ~10 min. Full lane:
#     python -m pytest tests/ -q -m "slow or not slow"
# Marking is centralized here (collection hook) rather than scattered
# decorators so the list is auditable in one place; parametrized entries
# are matched by their full bracketed id. tests/test_text_whitespace.py
# keeps only its four formerly-Java-\s queries in the default lane.
SLOW_TESTS = {
    "test_byte_level_round_trips_non_ascii",
    "test_byte_level_trainer_matches_pure_python_golden",
    "test_continuous_trigger_runs_passthrough",
    "test_dedup_then_window_pipeline",
    "test_disconnected_component_unreached",
    "test_end_of_word_variant_matches_reference_and_learns_word_units",
    "test_fixed_window_gbk",
    "test_global_positions_rank_matches_sequential",
    "test_graph_query_golden_hash[embedding_top_pc]",
    "test_graph_query_golden_hash[embedding_top_pcs]",
    "test_graph_query_golden_hash[pipeline_quality_dedup_pack]",
    "test_graph_query_golden_hash[sample_domain_reweight_int]",
    "test_graph_query_golden_hash[text_bpe_bytes]",
    "test_graph_query_golden_hash[text_bpe_exact]",
    "test_graph_query_golden_hash[text_bpe_tokens]",
    "test_graph_query_golden_hash[text_quality_lr_int]",
    "test_graph_query_golden_hash[text_quality_lr_multiclass]",
    "test_graph_query_golden_hash[text_quality_lr_stream_score]",
    "test_graph_query_golden_hash[text_sentencepiece_tokens]",
    "test_hll_monoid_windowed_distinct",
    "test_ivf_persistent_index_query_no_corpus_exchange",
    "test_ivf_topk_recall_vs_exact",
    "test_kmv_monoid_windowed_distinct",
    "test_late_data_dropped_behind_watermark",
    "test_long_chain_converges_in_log_rounds",
    "test_matches_min_label_on_random_graph",
    "test_monoid_windowed_state_matches_native",
    "test_no_undocumented_global_window_sorts",
    "test_oracle_parity[graph_pagerank_int]",
    "test_oracle_parity[graph_pagerank_personalized_int]",
    "test_oracle_parity[graph_pagerank_weighted_int]",
    "test_oracle_parity[graph_pagerank_weighted_personalized_int]",
    "test_oracle_parity[pipeline_quality_dedup_pack]",
    "test_oracle_parity[sample_domain_reweight_int]",
    "test_oracle_parity[text_bpe_bytes]",
    "test_oracle_parity[text_bpe_exact]",
    "test_oracle_parity[text_bpe_tokens]",
    "test_oracle_parity[text_quality_lr_int]",
    "test_oracle_parity[text_quality_lr_multiclass]",
    "test_oracle_parity[text_quality_lr_stream_score]",
    "test_oracle_parity[text_sentencepiece_tokens]",
    "test_pagerank_int_matches_pure_python",
    "test_pagerank_matches_numpy",
    "test_pagerank_weighted_int_matches_pure_python",
    "test_personalized_pagerank_int_matches_pure_python",
    "test_personalized_pagerank_matches_numpy",
    "test_personalized_pagerank_uniform_seeds_equals_pagerank",
    "test_personalized_pagerank_weighted_int_matches_pure_python",
    "test_phash_brightness_invariance_and_separation",
    "test_pipeline_quality_dedup_pack_stage_shapes",
    "test_pq_encode_narrow_and_adc_corpus_never_shuffles",
    "test_python_stages_run_once_per_action",
    "test_quality_lr_int_actually_learns",
    "test_quality_lr_multiclass_actually_learns",
    "test_quality_lr_multiclass_scoring_keyed_broadcast_weights",
    "test_quality_lr_scoring_pass_keyed_broadcast_weights",
    "test_rows_only_queries_run[embedding_top_pc]",
    "test_rows_only_queries_run[embedding_top_pcs]",
    "test_rows_only_queries_run[graph_pagerank]",
    "test_rows_only_queries_run[graph_pagerank_personalized]",
    "test_session_window_stream",
    "test_stateful_running_count_across_batches",
    "test_stream_dedup",
    "test_stream_scd2_enrich_joins_version_valid_at_event_time",
    "test_stream_stream_interval_join",
    "test_stream_stream_interval_join_left_outer",
    "test_streaming_incremental_dedup_foreachbatch",
    "test_streaming_lr_scored_emission_matches_batch",
    "test_timestamp_combiner_earliest",
    "test_tokenize_applies_training_segmentation",
    "test_tokenize_round_trips_and_compresses",
    "test_tokenizer_word_boundary_matches_trainer",
    "test_top_principal_component_matches_numpy",
    "test_top_principal_components_deflation_matches_numpy",
    "test_train_vocab_final_syms_is_the_tokenization",
    "test_trainer_left_to_right_nonoverlapping_runs",
    "test_trainer_matches_pure_python_golden",
    "test_trainer_property_matches_reference",
    "test_unigram_property_matches_reference",
    "test_vertical_tab_split_matches_oracle[dedup_canonical_pick]",
    "test_vertical_tab_split_matches_oracle[dedup_cdc_chunks]",
    "test_vertical_tab_split_matches_oracle[dedup_chunk_exact]",
    "test_vertical_tab_split_matches_oracle[dedup_clusters]",
    "test_vertical_tab_split_matches_oracle[dedup_clusters_twophase]",
    "test_vertical_tab_split_matches_oracle[dedup_containment]",
    "test_vertical_tab_split_matches_oracle[dedup_contamination]",
    "test_vertical_tab_split_matches_oracle[dedup_duplicate_spans]",
    "test_vertical_tab_split_matches_oracle[dedup_exact]",
    "test_vertical_tab_split_matches_oracle[dedup_incremental]",
    "test_vertical_tab_split_matches_oracle[dedup_lsh_recall]",
    "test_vertical_tab_split_matches_oracle[dedup_lsh_scurve]",
    "test_vertical_tab_split_matches_oracle[dedup_minhash_lsh_pairs]",
    "test_vertical_tab_split_matches_oracle[dedup_minhash_signature]",
    "test_vertical_tab_split_matches_oracle[dedup_ngram_jaccard]",
    "test_vertical_tab_split_matches_oracle[dedup_savings_report]",
    "test_vertical_tab_split_matches_oracle[dedup_simhash]",
    "test_vertical_tab_split_matches_oracle[dedup_soft_weights]",
    "test_vertical_tab_split_matches_oracle[doc_fingerprint]",
    "test_vertical_tab_split_matches_oracle[pipeline_chunk_pack]",
    "test_vertical_tab_split_matches_oracle[pipeline_quality_dedup_pack]",
    "test_vertical_tab_split_matches_oracle[pipeline_quality_dedup_sample]",
    "test_vertical_tab_split_matches_oracle[sample_cluster_split]",
    "test_vertical_tab_split_matches_oracle[sample_curriculum_order]",
    "test_vertical_tab_split_matches_oracle[sample_dsir_select]",
    "test_vertical_tab_split_matches_oracle[sketch_countmin_words]",
    "test_vertical_tab_split_matches_oracle[text_backoff_lm_score]",
    "test_vertical_tab_split_matches_oracle[text_bigram_lm_perplexity]",
    "test_vertical_tab_split_matches_oracle[text_blocklist_filter]",
    "test_vertical_tab_split_matches_oracle[text_bm25_topk]",
    "test_vertical_tab_split_matches_oracle[text_bm25_topk_and]",
    "test_vertical_tab_split_matches_oracle[text_boilerplate]",
    "test_vertical_tab_split_matches_oracle[text_bpe_bytes]",
    "test_vertical_tab_split_matches_oracle[text_bpe_exact]",
    "test_vertical_tab_split_matches_oracle[text_bpe_tokens]",
    "test_vertical_tab_split_matches_oracle[text_chunk_windows]",
    "test_vertical_tab_split_matches_oracle[text_doc_freq]",
    "test_vertical_tab_split_matches_oracle[text_doc_stats]",
    "test_vertical_tab_split_matches_oracle[text_gopher_rules]",
    "test_vertical_tab_split_matches_oracle[text_hashed_ngram_features]",
    "test_vertical_tab_split_matches_oracle[text_hybrid_rrf]",
    "test_vertical_tab_split_matches_oracle[text_lang_attribution]",
    "test_vertical_tab_split_matches_oracle[text_lang_confusion]",
    "test_vertical_tab_split_matches_oracle[text_lang_id]",
    "test_vertical_tab_split_matches_oracle[text_lang_profile]",
    "test_vertical_tab_split_matches_oracle[text_longest_dup_ngram]",
    "test_vertical_tab_split_matches_oracle[text_phrase_match]",
    "test_vertical_tab_split_matches_oracle[text_pmi_bigrams]",
    "test_vertical_tab_split_matches_oracle[text_qgram_lang_distance]",
    "test_vertical_tab_split_matches_oracle[text_quality]",
    "test_vertical_tab_split_matches_oracle[text_quality_lr_int]",
    "test_vertical_tab_split_matches_oracle[text_quality_lr_multiclass]",
    "test_vertical_tab_split_matches_oracle[text_quality_lr_stream_score]",
    "test_vertical_tab_split_matches_oracle[text_rare_bigram_frac]",
    "test_vertical_tab_split_matches_oracle[text_repetition]",
    "test_vertical_tab_split_matches_oracle[text_retrieval_eval]",
    "test_vertical_tab_split_matches_oracle[text_sentencepiece_tokens]",
    "test_vertical_tab_split_matches_oracle[text_tfidf_topterms]",
    "test_vertical_tab_split_matches_oracle[text_token_count]",
    "test_vertical_tab_split_matches_oracle[text_trigram_lm_perplexity]",
    "test_vertical_tab_split_matches_oracle[text_vocab_coverage]",
    "test_vertical_tab_split_matches_oracle[text_wordpiece_tokens]",
    "test_vertical_tab_split_matches_oracle[wordcount]",
    "test_wordpiece_property_matches_reference",
    "test_wordpiece_tokenize_matches_pure_python",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.name in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
