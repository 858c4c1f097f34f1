"""Golden result hashes at sf0.001 for the 17 registered graph queries,
the queries that tokenize text, the vector queries, the streaming
queries, the queries whose oracle hashes and the queries built on the
exact-arithmetic forms.

test_oracle_parity compares each query with its DuckDB oracle, and both
sides now read one shared input: the co-purchase or shipment graph (the
DataFrame builders and CTE fragments at the top of queries/llm.py), the
token forms of functions/text.py, the vector forms of
functions/vector.py, the hash forms of functions/hash.py, or the decimal
and rounded-log forms of functions/exact.py, each with its SQL twin. A change to a shared input would move the two sides
together and still pass there. These hashes pin the results themselves;
they were recorded from the implementations that still built every
graph input, spelled every whitespace split, wrote every vector fold,
spelled every seeded md5 and spelled every decimal cast, rounded double
and rounded log by hand. The multimodal payload queries
are not pinned for their hashes: their md5 calls encode fixture bytes
and are not members of the hash family.

The hash is the driver contract checker's own (``value_hash`` over
``norm``, tools/drive_contract.py), so a mismatch here reads the same as a
driver-sim mismatch. The rows-only queries are included where two runs of
the recording implementation gave the same hash: the float PageRank
queries round ranks to 8 decimals, far above float-sum reordering noise,
and the refined IVF top-k, float k-means and power-iteration principal
component queries gave one hash on 2, 4 and 8 local cores. The
streaming queries' hashes were recorded while each still read its source
and built its aggregate by hand, before they moved onto the Stream API."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

from gearpump_spark.queries import REGISTRY, _load
from perfbench.oracle import load_contract_functions

_load()

GOLDEN_SF001 = {
    "dedup_canonical_pick": "50d808e1a5e2ade5",
    "dedup_cdc_chunks": "e49c153978af9475",
    "dedup_chunk_exact": "ff129f2b3c6fba00",
    "dedup_clusters": "eceec406e8eff830",
    "dedup_clusters_twophase": "eceec406e8eff830",
    "dedup_containment": "3123cb6dba9760d3",
    "dedup_contamination": "4b3c91b2d6e53a86",
    "dedup_duplicate_spans": "129a65f5dae56ec4",
    "dedup_embedding_cosine": "877bbd6e2f8b19a1",
    "dedup_exact": "efbdbee799fc7a29",
    "dedup_incremental": "b04f030a8d8ebf66",
    "dedup_lsh_recall": "78927cf189698b21",
    "dedup_lsh_scurve": "294ac598b79274d6",
    "dedup_minhash_lsh_pairs": "00c99f68305d763c",
    "dedup_minhash_signature": "b1a08703c0abe7a7",
    "dedup_ngram_jaccard": "1478d6fc0dfd1f5d",
    "dedup_savings_report": "c848a34f07c1dedd",
    "dedup_semantic": "3ed9ec3c963ab46e",
    "dedup_simhash": "e0cce61a3b1fa65a",
    "dedup_soft_weights": "ad3ecc6464583afb",
    "doc_fingerprint": "aa2f3fe9b40472cd",
    "embedding_center_project": "e782d0c145ca798f",
    "embedding_covariance": "cd3d9b3f8d6fd3e4",
    "embedding_matryoshka": "e54e98f560a14834",
    "embedding_outliers": "8161bd1736a87419",
    "embedding_quantize_binary": "4f8ee74b42f563d6",
    "embedding_quantize_int4": "cd8353c8759f2acd",
    "embedding_quantize_int8": "dbc7bc966040ba1e",
    "embedding_quantize_pq": "b9bb0c6d07edbc30",
    "embedding_random_projection": "d4896c2d4ec04f17",
    "embedding_top_pc": "bd18875bf5307cd9",
    "embedding_top_pc_int": "5c88a3c3fb40d8da",
    "embedding_top_pcs": "a03910c38117c6e7",
    "graph_assortativity": "d7f826c8e99f2877",
    "graph_clustering_coeff": "c5ed8435406d4604",
    "graph_degree_distribution": "658cd35439fd3ada",
    "graph_harmonic_centrality": "2604f2e75860ff5c",
    "graph_jaccard_neighbors": "91da9f888f7d61c3",
    "graph_kcore": "09cfb25851919e02",
    "graph_khop_reach": "0e814e2ef0921ce0",
    "graph_label_propagation": "d50b5d0234ab14d7",
    "graph_link_prediction": "78712904b7f04fc7",
    "graph_pagerank": "05604995461b6e55",
    "graph_pagerank_int": "25b1c21f250fbbb0",
    "graph_pagerank_personalized": "9d4010d315b612dc",
    "graph_pagerank_personalized_int": "2a2f49cf44a3cf93",
    "graph_pagerank_weighted_int": "124a095455d4e734",
    "graph_pagerank_weighted_personalized_int": "7c86e86b2e03d5ad",
    "graph_triangle_count": "dd3554f640b2d4dd",
    "graph_triangle_estimate": "6a565584b08b333c",
    "kmeans_clusters": "50662bda0388ec15",
    "kmeans_clusters_int": "75b9e53cb08d2ee8",
    "pipeline_chunk_pack": "1f182749cfa8ca22",
    "pipeline_quality_dedup_pack": "32ba69e7eb8d76fa",
    "pipeline_quality_dedup_sample": "19806659ee472741",
    "q10_returned_items": "a49c0bb37c2a9922",
    "q11_important_parts": "555577c34d9f1d06",
    "q14_promo_revenue": "6e946e39e9e5cc7e",
    "q15_top_supplier": "239278b90a387b4a",
    "q17_small_quantity_revenue": "cdd3396753becfdf",
    "q18_large_volume_customer": "c5bed14bb770c2b0",
    "q19_disjunctive_revenue": "5deba0bef30f01a7",
    "q1_pricing_summary": "5eab8c2b8e31e12b",
    "q22_idle_customers": "e3b0c44298fc1c14",
    "q3_shipping_priority": "0a4ee65fb6247dab",
    "q5_local_supplier_volume": "7f7ce27b63e61aaa",
    "q6_revenue_forecast": "1a6e4866e4d0e93a",
    "q7_volume_shipping": "e3b0c44298fc1c14",
    "q8_market_share": "d431c5c649bbcd1f",
    "q9_product_profit": "6417b3d69a33b855",
    "q_agg_stats": "651ff88b8b411f69",
    "q_corr_qty_price": "898ee6fcb4cc89eb",
    "q_cube": "bd2a6503f555c5e7",
    "q_file_skip_stats": "5566c371edcaa82a",
    "q_first_touch_attribution": "c32e9638c448dd01",
    "q_gbk_combine": "7e9d2dd2e05e9f34",
    "q_groupby_having": "60b0d6fadb024bea",
    "q_grouping_sets": "59638c30e640d606",
    "q_incremental_agg": "0ef2fb33941ff81b",
    "q_json_extract": "b5c46415c1eea323",
    "q_multi_output_tags": "1f31a144868f1b2b",
    "q_outer_join_counts": "03aa622616b32192",
    "q_range_join": "c89c56038c52bdab",
    "q_rollup": "668ad516b76d81b7",
    "q_running_aggregate_stream": "b9be6e4d4757ae81",
    "q_session_window_stream": "51bbeb4ca3488d15",
    "q_sessionize": "81a04fc20c472d2a",
    "q_snapshot_diff": "66c4706a43e19d8d",
    "q_stream_dedup_replay": "ecad457308c949b2",
    "q_stream_join_outer": "eeb40ecbb69add0b",
    "q_stream_stream_join": "be9feab51f4198e3",
    "q_trailing_1h": "55740a0be320e38a",
    "q_user_value_outliers": "4d8c1bd33124f54d",
    "q_window_running": "9ec861155d38c4dc",
    "q_window_sliding": "f679200bd5e557b0",
    "q_window_sliding_stream": "f679200bd5e557b0",
    "q_window_tumbling": "ecad457308c949b2",
    "q_window_tumbling_stream": "ecad457308c949b2",
    "q_winsorize": "6889e24a9a194260",
    "sample_bottom_k": "61d4512c52a3c2e3",
    "sample_cluster_split": "e722df1f5a5aa16f",
    "sample_curriculum_order": "99dbc78be453be2a",
    "sample_domain_reweight_int": "db03473c64a0088d",
    "sample_dsir_select": "38e0a1526c5f1851",
    "sample_epochs_mix": "65d00608751422c9",
    "sample_hash_10pct": "389099a7a3fe093d",
    "sample_k_per_group": "9738ac80d26ff0b4",
    "sample_negative_pairs": "ba71c6230b426879",
    "sample_pack_sequences": "075a005bf43540d1",
    "sample_poisson_bootstrap": "ccad8cb23192afd8",
    "sample_shuffle_order": "521de6d725a948b4",
    "sample_stratified_mix": "54082443d92ab9ee",
    "sample_temperature_mix": "4886a19be394ccfc",
    "sample_train_test_split": "956e6c58cbc90fa5",
    "sample_weighted_priority": "42fb54347933a26d",
    "sample_weighted_reservoir": "8da059f956860229",
    "similarity_binary_rerank": "8e1f36634d55d564",
    "similarity_hard_negatives": "d93dad9a79cb391e",
    "similarity_ivf_recall": "9bea5fe3a32ffe94",
    "similarity_mmr_rerank": "1f12dac4e64db9e7",
    "similarity_range_search": "850b407680e7976e",
    "similarity_topk": "f3e30cec9bb211db",
    "similarity_topk_hamming": "0361a03687e76783",
    "similarity_topk_ivf": "34a908af0ee4f28e",
    "similarity_topk_ivf_seeded": "f3e30cec9bb211db",
    "similarity_topk_ivfpq": "8a77fcdd02c82720",
    "similarity_topk_lsh": "eb0fd153a5d3ebd2",
    "similarity_topk_pq_adc": "98398181501ea8a4",
    "sketch_ams_f2": "f8215a0982909f48",
    "sketch_bloom_membership": "17f4b3a8350f97de",
    "sketch_bottomk_rank_error": "7c94fe94da260481",
    "sketch_countmin_words": "869613ff8b4b4613",
    "sketch_hll_intersection": "07e1aa08d6898195",
    "sketch_hll_registers": "41fba9d39e07cfaf",
    "sketch_hll_sparse": "475a2681f299c790",
    "sketch_hll_switchover": "0a12affa97c29f1a",
    "sketch_hll_union": "77d03455bfab3f70",
    "sketch_kmv_distinct": "b3439d8198133b05",
    "sketch_theta_anotb": "8c7c3a50e87f2fde",
    "sketch_theta_overlap": "c199c25013925cc0",
    "text_backoff_lm_score": "005cae190c57564f",
    "text_bigram_lm_perplexity": "7ab71b51e6ff1e2c",
    "text_blocklist_filter": "3e73db7969bf9dd1",
    "text_bm25_topk": "993bbf308e85ea59",
    "text_bm25_topk_and": "993bbf308e85ea59",
    "text_boilerplate": "5d05e06936f57b6d",
    "text_bpe_bytes": "621197dbd24041fc",
    "text_bpe_exact": "621197dbd24041fc",
    "text_bpe_tokens": "621197dbd24041fc",
    "text_chunk_windows": "0d211637e63ade58",
    "text_doc_freq": "eab9bb695b7dbcaa",
    "text_doc_stats": "8ed2d78f5e070278",
    "text_gopher_rules": "bd41f28d3e617501",
    "text_hashed_ngram_features": "d87d56b5e0c34e2d",
    "text_hybrid_rrf": "55915488a36a82eb",
    "text_kl_source_drift": "735359984f264666",
    "text_lang_attribution": "df58f38b45dbaea1",
    "text_lang_confusion": "030445ae47cdd301",
    "text_lang_id": "3d28ca31211bdd1d",
    "text_lang_profile": "28799247405a62bf",
    "text_longest_dup_ngram": "6796410e61beeaf2",
    "text_oov_rate": "4f79e0d17b1e63b1",
    "text_phrase_match": "c7f347be0c6eb811",
    "text_pii_redact": "040b55800b17f278",
    "text_pmi_bigrams": "505589694a6d7801",
    "text_qgram_lang_distance": "cfe163dfeb17bac9",
    "text_quality": "372be178dfef6e07",
    "text_quality_lr_int": "e9937a996f5d9638",
    "text_quality_lr_multiclass": "5967db18f8664c91",
    "text_quality_lr_stream_score": "9c79bd2ec7128982",
    "text_rare_bigram_frac": "85ed1b9b2df66ab2",
    "text_repetition": "9084aae75b9df0b2",
    "text_retrieval_eval": "cc339b10f8813f29",
    "text_sentencepiece_tokens": "752166aa1577e11f",
    "text_tfidf_topterms": "764e293922679986",
    "text_token_count": "121f49a643fbfab1",
    "text_trigram_lm_perplexity": "d28559b6ecb0df34",
    "text_unigram_logprob": "493acdb109b69b56",
    "text_vocab_coverage": "52ec420665e96b35",
    "text_wordpiece_tokens": "621197dbd24041fc",
    "text_zipf_fit": "8b75f7a62c51e591",
    "wordcount": "1bbb4c8c265c782a",
}


VECTOR_QUERIES = ("dedup_embedding_cosine", "dedup_semantic")
PINNED_PREFIXES = ("graph_", "similarity_", "embedding_", "kmeans_")


def _streamed_queries() -> set[str]:
    """Registered queries whose function drains a stream (calls
    run_to_completion), read from the query modules' source."""
    names = set()
    for path in (pathlib.Path(__file__).parent.parent / "gearpump_spark" / "queries").glob("*.py"):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            calls = {getattr(c.func, "id", None) for c in ast.walk(fn) if isinstance(c, ast.Call)}
            if "run_to_completion" in calls:
                names |= {
                    d.args[0].value
                    for d in fn.decorator_list
                    if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
                }
    return names


def _exact_queries() -> set[str]:
    """Registered queries whose function or oracle uses functions/exact.py,
    directly or through a module-level helper of a query module (a
    constant or function whose definition uses it, followed to a fixed
    point, across the query modules' imports of each other)."""
    exact_mod = "gearpump_spark.functions.exact"
    trees = {
        path.stem: ast.parse(path.read_text())
        for path in (pathlib.Path(__file__).parent.parent / "gearpump_spark" / "queries").glob(
            "*.py"
        )
    }

    def is_query(node):
        return isinstance(node, ast.FunctionDef) and any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
            for d in node.decorator_list
        )

    def names(node):
        return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}

    uses = {m: set() for m in trees}
    changed = True
    while changed:
        changed = False
        for mod, tree in trees.items():
            for node in tree.body:
                if isinstance(node, ast.ImportFrom) and node.module:
                    src = node.module.rsplit(".", 1)[-1]
                    new = {
                        a.asname or a.name
                        for a in node.names
                        if node.module == exact_mod
                        or (node.module.startswith("gearpump_spark.queries.") and a.name in uses.get(src, ()))
                    }
                elif isinstance(node, (ast.FunctionDef, ast.Assign)) and not is_query(node):
                    targets = (
                        {node.name}
                        if isinstance(node, ast.FunctionDef)
                        else {t.id for t in node.targets if isinstance(t, ast.Name)}
                    )
                    new = targets if names(node) & uses[mod] else set()
                else:
                    continue
                if not new <= uses[mod]:
                    uses[mod] |= new
                    changed = True
    return {
        d.args[0].value
        for mod, tree in trees.items()
        for node in tree.body
        if is_query(node) and names(node) & uses[mod]
        for d in node.decorator_list
        if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
    }


def test_golden_covers_every_graph_query():
    pinned = {n for n in REGISTRY if n.startswith(PINNED_PREFIXES)}
    streamed = _streamed_queries()
    assert len(streamed) >= 8
    assert pinned | streamed | set(VECTOR_QUERIES) <= set(GOLDEN_SF001)


def test_golden_covers_every_exact_arithmetic_query():
    exact = _exact_queries()
    assert len(exact) >= 50
    assert exact <= set(REGISTRY)
    assert not exact - set(GOLDEN_SF001), sorted(exact - set(GOLDEN_SF001))


@pytest.mark.parametrize("name", sorted(GOLDEN_SF001))
def test_graph_query_golden_hash(spark, sf_dir, name):
    if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
        pytest.skip("golden hashes are recorded at sf0.001")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    value_hash, norm = load_contract_functions(repo)
    got = value_hash(norm(REGISTRY[name].fn(spark, sf_dir).toPandas()))
    assert got == GOLDEN_SF001[name], name
