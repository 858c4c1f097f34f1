"""Golden result hashes at sf0.001 for the 17 registered graph queries
and the 67 queries that tokenize text.

test_oracle_parity compares each query with its DuckDB oracle, and both
sides now read one shared input: the co-purchase or shipment graph (the
DataFrame builders and CTE fragments at the top of queries/llm.py), or
the token forms of functions/text.py and their SQL twins. A change to a
shared input would move the two sides together and still pass there.
These hashes pin the results themselves; they were recorded from the
implementations that still built every graph input and spelled every
whitespace split by hand.

The hash is the driver contract checker's own (``value_hash`` over
``norm``, tools/drive_contract.py), so a mismatch here reads the same as a
driver-sim mismatch. The rows-only float PageRank queries are included:
they round ranks to 8 decimals, far above float-sum reordering noise.
"""

from __future__ import annotations

import os

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
    "dedup_exact": "efbdbee799fc7a29",
    "dedup_incremental": "b04f030a8d8ebf66",
    "dedup_lsh_recall": "78927cf189698b21",
    "dedup_lsh_scurve": "294ac598b79274d6",
    "dedup_minhash_lsh_pairs": "00c99f68305d763c",
    "dedup_minhash_signature": "b1a08703c0abe7a7",
    "dedup_ngram_jaccard": "1478d6fc0dfd1f5d",
    "dedup_savings_report": "c848a34f07c1dedd",
    "dedup_simhash": "e0cce61a3b1fa65a",
    "dedup_soft_weights": "ad3ecc6464583afb",
    "doc_fingerprint": "aa2f3fe9b40472cd",
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
    "pipeline_chunk_pack": "1f182749cfa8ca22",
    "pipeline_quality_dedup_pack": "32ba69e7eb8d76fa",
    "pipeline_quality_dedup_sample": "19806659ee472741",
    "sample_cluster_split": "e722df1f5a5aa16f",
    "sample_curriculum_order": "99dbc78be453be2a",
    "sample_dsir_select": "38e0a1526c5f1851",
    "sketch_countmin_words": "869613ff8b4b4613",
    "sketch_hll_sparse": "475a2681f299c790",
    "sketch_kmv_distinct": "b3439d8198133b05",
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
    "text_lang_attribution": "df58f38b45dbaea1",
    "text_lang_confusion": "030445ae47cdd301",
    "text_lang_id": "3d28ca31211bdd1d",
    "text_lang_profile": "28799247405a62bf",
    "text_longest_dup_ngram": "6796410e61beeaf2",
    "text_oov_rate": "4f79e0d17b1e63b1",
    "text_phrase_match": "c7f347be0c6eb811",
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
    "text_vocab_coverage": "52ec420665e96b35",
    "text_wordpiece_tokens": "621197dbd24041fc",
    "text_zipf_fit": "8b75f7a62c51e591",
    "wordcount": "1bbb4c8c265c782a",
}


def test_golden_covers_every_graph_query():
    assert {n for n in REGISTRY if n.startswith("graph_")} <= set(GOLDEN_SF001)


@pytest.mark.parametrize("name", sorted(GOLDEN_SF001))
def test_graph_query_golden_hash(spark, sf_dir, name):
    if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
        pytest.skip("golden hashes are recorded at sf0.001")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    value_hash, norm = load_contract_functions(repo)
    got = value_hash(norm(REGISTRY[name].fn(spark, sf_dir).toPandas()))
    assert got == GOLDEN_SF001[name], name
