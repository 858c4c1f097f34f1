"""Spark and its DuckDB oracle split text on the same whitespace class.

The fixture is the documents table with every 7th space of each text
replaced by U+000B (vertical tab). Java's ``\\s`` matches U+000B and RE2's
``\\s`` does not, so a Spark tokenizer that drifts from
``functions/text.py`` ``WS_RE`` gives a different token stream than its
oracle here, while the stock test data (no U+000B) hides the drift. Every
oracle-backed query whose tokenization goes through the token layer runs
on both engines over this table and must compare equal.

The first four queries split on Java's ``\\s+`` before the token layer
existed; they are the tier-1 cases. The rest are in the slow lane
(tests/conftest.py SLOW_TESTS).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gearpump_spark.datasets import TABLES
from gearpump_spark.queries import REGISTRY, _load
from test_oracle_parity import _compare

_load()

VT_FIXED = (
    "sketch_hll_sparse",
    "sketch_kmv_distinct",
    "text_oov_rate",
    "text_zipf_fit",
)
VT_TOKEN_LAYER = (
    "dedup_canonical_pick",
    "dedup_cdc_chunks",
    "dedup_chunk_exact",
    "dedup_clusters",
    "dedup_clusters_twophase",
    "dedup_containment",
    "dedup_contamination",
    "dedup_duplicate_spans",
    "dedup_exact",
    "dedup_incremental",
    "dedup_lsh_recall",
    "dedup_lsh_scurve",
    "dedup_minhash_lsh_pairs",
    "dedup_minhash_signature",
    "dedup_ngram_jaccard",
    "dedup_savings_report",
    "dedup_simhash",
    "dedup_soft_weights",
    "doc_fingerprint",
    "pipeline_chunk_pack",
    "pipeline_quality_dedup_pack",
    "pipeline_quality_dedup_sample",
    "sample_cluster_split",
    "sample_curriculum_order",
    "sample_dsir_select",
    "sketch_countmin_words",
    "text_backoff_lm_score",
    "text_bigram_lm_perplexity",
    "text_blocklist_filter",
    "text_bm25_topk",
    "text_bm25_topk_and",
    "text_boilerplate",
    "text_bpe_bytes",
    "text_bpe_exact",
    "text_bpe_tokens",
    "text_chunk_windows",
    "text_doc_freq",
    "text_doc_stats",
    "text_gopher_rules",
    "text_hashed_ngram_features",
    "text_hybrid_rrf",
    "text_lang_attribution",
    "text_lang_confusion",
    "text_lang_id",
    "text_lang_profile",
    "text_longest_dup_ngram",
    "text_phrase_match",
    "text_pmi_bigrams",
    "text_qgram_lang_distance",
    "text_quality",
    "text_quality_lr_int",
    "text_quality_lr_multiclass",
    "text_quality_lr_stream_score",
    "text_rare_bigram_frac",
    "text_repetition",
    "text_retrieval_eval",
    "text_sentencepiece_tokens",
    "text_tfidf_topterms",
    "text_token_count",
    "text_trigram_lm_perplexity",
    "text_vocab_coverage",
    "text_wordpiece_tokens",
    "wordcount",
)


def _every_7th_space_to_vt(text: str | None) -> str | None:
    if text is None:
        return None
    parts = text.split(" ")
    out = [parts[0]]
    for i, p in enumerate(parts[1:], 1):
        out.append(("\x0b" if i % 7 == 0 else " ") + p)
    return "".join(out)


@pytest.fixture(scope="module")
def vt_dir(tmp_path_factory, sf_dir):
    d = tmp_path_factory.mktemp("vt_sf")
    for name in TABLES:
        src = os.path.join(sf_dir, f"{name}.parquet")
        if name != "documents":
            os.symlink(src, d / f"{name}.parquet")
            continue
        t = pq.read_table(src)
        i = t.schema.get_field_index("text")
        vt = pa.array([_every_7th_space_to_vt(x) for x in t.column(i).to_pylist()], pa.string())
        assert any("\x0b" in x for x in vt.to_pylist() if x)
        pq.write_table(t.set_column(i, t.schema.field(i), vt), d / "documents.parquet")
    return str(d)


@pytest.fixture(scope="module")
def vt_duck(vt_dir):
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{vt_dir}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", VT_FIXED + VT_TOKEN_LAYER)
def test_vertical_tab_split_matches_oracle(spark, vt_dir, vt_duck, name):
    q = REGISTRY[name]
    _compare(q.fn(spark, vt_dir).toPandas(), vt_duck.sql(q.oracle).df(), name)
