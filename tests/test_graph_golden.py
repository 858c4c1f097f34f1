"""Golden result hashes for the 17 registered graph queries at sf0.001.

test_oracle_parity compares each graph query with its DuckDB oracle, and
both sides now read one shared co-purchase or shipment input (the
DataFrame builders and CTE fragments at the top of queries/llm.py). A
change to a shared input would move the two sides together and still
pass there. These hashes pin the results themselves; they were recorded
from the implementation that still built every graph input by hand.

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
}


def test_golden_covers_every_graph_query():
    assert sorted(GOLDEN_SF001) == sorted(n for n in REGISTRY if n.startswith("graph_"))


@pytest.mark.parametrize("name", sorted(GOLDEN_SF001))
def test_graph_query_golden_hash(spark, sf_dir, name):
    if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
        pytest.skip("golden hashes are recorded at sf0.001")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    value_hash, norm = load_contract_functions(repo)
    got = value_hash(norm(REGISTRY[name].fn(spark, sf_dir).toPandas()))
    assert got == GOLDEN_SF001[name], name
