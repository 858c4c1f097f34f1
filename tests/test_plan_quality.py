"""Physical-plan assertions — the 100 TB properties, locked as tests.

A query that is correct but reads every column, shuffles both join sides,
or globally sorts for a top-k does not survive a 100× scale-up. These tests
pin the plan shapes: pushdown reaches the parquet scan, constant-size dims
broadcast, top-k avoids global sort, partial aggregation runs map-side,
bucketed joins drop their exchanges, and the as-of join stays single-shuffle.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from gearpump_spark.queries import all_queries


QS = all_queries()


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_q6_pushdown_and_pruning(spark, sf_dir):
    """All q6 predicates reach the scan; only needed columns are read."""
    p = plan(QS["q6_revenue_forecast"](spark, sf_dir))
    assert "PushedFilters" in p
    assert "l_shipdate" in p.split("PushedFilters")[1][:400]
    # projection pruning: the scan schema must not include unused columns
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema
    assert "l_returnflag" not in read_schema


def test_q5_broadcasts_dims(spark, sf_dir):
    """region/nation (constant-size) must broadcast — never shuffle."""
    p = plan(QS["q5_local_supplier_volume"](spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_q3_topk_no_global_sort(spark, sf_dir):
    """LIMIT 10 over ORDER BY compiles to TakeOrderedAndProject: each task
    keeps 10 rows; no global sort materialization."""
    p = plan(QS["q3_shipping_priority"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_q1_partial_aggregation(spark, sf_dir):
    """Map-side partial agg: shuffle volume is O(groups), not O(rows)."""
    p = plan(QS["q1_pricing_summary"](spark, sf_dir))
    assert p.count("HashAggregate") >= 2  # partial + final


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of join is one keyed exchange (plus the local-rig scan
    repartition) — no theta-join blow-up, no extra exchanges."""
    from gearpump_spark.datasets import table
    from gearpump_spark.operators.temporal import asof_join

    ev = table(spark, sf_dir, "events", parallelize=False)
    purchases = ev.filter(F.col("event_type") == "purchase")
    logins = ev.filter(F.col("event_type") == "login").select("user_id", "ts", "value")
    p = plan(asof_join(purchases, logins, key="user_id", right_cols=["value"]))
    # one hashpartitioning exchange for the window; union feeds it directly
    assert p.count("hashpartitioning") == 1
    assert "SortMergeJoin" not in p and "NestedLoop" not in p


def test_salted_join_matches_plain(spark):
    from gearpump_spark.operators.physical import salted_join

    left = spark.range(0, 1000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )
    right = spark.createDataFrame([(0, "x"), (1, "y"), (2, "z")], "k bigint, tag string")
    plain = {(r.k, r.v, r.tag) for r in left.join(right, "k").collect()}
    salted = {(r.k, r.v, r.tag) for r in salted_join(left, right, "k", n_salts=8).collect()}
    assert salted == plain


def test_salted_aggregate_matches_plain(spark):
    from gearpump_spark.operators.physical import salted_aggregate

    df = spark.range(0, 5000).select(
        (F.when(F.col("id") % 100 < 99, "hot").otherwise("cold")).alias("k"),
        F.col("id").alias("v"),
    )
    plain = {(r.k, r.total) for r in df.groupBy("k").agg(F.sum("v").alias("total")).collect()}
    salted = {(r.k, r.total) for r in salted_aggregate(df, "k", "v", n_salts=8).collect()}
    assert salted == plain


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Same-bucketed tables join with zero Exchange nodes — the
    CoLocationPartitioner semantics, amortized into the write."""
    from gearpump_spark.operators.physical import bucketed_join, write_bucketed

    a = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("a"))
    b = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("b"))
    write_bucketed(a, "bj_a", "k", n_buckets=4)
    write_bucketed(b, "bj_b", "k", n_buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the shuffle-join path (broadcast would trivially avoid the
        # exchange; the point is that bucketing removes it for big-big)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "bj_a", "bj_b", "k")
        p = plan(joined)
        assert "SortMergeJoin" in p
        assert "hashpartitioning" not in p  # zero shuffle exchanges
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bj_a")
        spark.sql("DROP TABLE IF EXISTS bj_b")


def test_wordcount_partial_agg_before_exchange(spark, sf_dir):
    p = plan(QS["wordcount"](spark, sf_dir))
    partial_idx = p.find("HashAggregate")
    assert partial_idx != -1
    assert p.count("HashAggregate") >= 2


def test_similarity_topk_broadcasts_queries(spark, sf_dir):
    """The probe side broadcasts; the corpus never shuffles."""
    p = plan(QS["similarity_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_q12_pushdown_reaches_lineitem_scan(spark, sf_dir):
    """The ship-year range must prune the lineitem scan, not filter post-join."""
    p = plan(QS["q12_ship_priority_class"](spark, sf_dir))
    assert "PushedFilters" in p
    li_scan = [s for s in p.split("Scan parquet") if "lineitem" in s.split("ReadSchema")[0]]
    assert any("l_shipdate" in s.split("PushedFilters")[1][:400] for s in li_scan if "PushedFilters" in s)


def test_q21_self_join_sides_pruned(spark, sf_dir):
    """Every lineitem side of the self-joins carries only the 2-3 needed
    columns — the exchanges stay narrow at 100 TB."""
    p = plan(QS["q21_last_shipper"](spark, sf_dir))
    for seg in p.split("ReadSchema")[1:]:
        schema = seg.splitlines()[0]
        if "l_orderkey" in schema:
            assert "l_extendedprice" not in schema
            assert "l_quantity" not in schema


def test_q17_preagg_semi_join_restricts_lineitem(spark, sf_dir):
    """The per-part AVG must aggregate only Brand#11 lineitem rows: the
    broadcast semi-join on the filtered part keys runs BEFORE the
    aggregate, so the shuffle feeding the AVG carries ~1/25 of the keys."""
    p = plan(QS["q17_small_quantity_revenue"](spark, sf_dir))
    assert "LeftSemi" in p, "expected a semi-join restricting the pre-aggregate"
    assert "BroadcastHashJoin" in p, "Brand#11 part keys must broadcast"
    # The semi-join must appear before (deeper than) the partial aggregate
    # in the formatted plan's operator list for the aggregate's input.
    assert p.count("HashAggregate") >= 2  # partial + final per-part avg


def test_ivf_probe_join_broadcasts_queries(spark, sf_dir):
    """IVF probe: inverted lists stay partitioned; the query side broadcasts."""
    p = plan(QS["similarity_topk_ivf"](spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_ivf_centroids_single_literal_at_nlist_256(spark):
    """Centroids enter the plan as ONE nested-array literal, not nlist
    expression trees: nlist=256·dim=16 must not blow up the analyzed plan
    (round-1 VERDICT item #8). Budget is generous vs the old per-centroid
    form, which grew ~50 chars per literal → >200KB at this size."""
    import random

    from gearpump_spark.operators.similarity import ivf_assign

    rng = random.Random(7)
    cents = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(256)]
    df = spark.createDataFrame(
        [(i, [float(i)] * 16) for i in range(4)], "vec_id bigint, embedding array<double>"
    )
    out = ivf_assign(df, "embedding", cents, "cid", nprobe=2)
    assert out.count() == 8  # nprobe=2 explodes each row twice
    # The expression TREE must stay O(1) in nlist: one transform/aggregate
    # lambda over the centroid literal, not one _sq_dist fold per centroid.
    # (Raw plan-string length is the wrong metric — explain prints the
    # literal's 4096 constant values, which is data, not codegen surface.)
    p = plan(out, "extended")
    n_folds = p.split("== Analyzed Logical Plan ==")[1].split("== Optimized")[0].count("aggregate(")
    assert n_folds <= 4, f"{n_folds} distance folds in the plan — expected one per lambda, not per centroid"


def test_bloom_probe_broadcasts_filter(spark, sf_dir):
    from gearpump_spark.datasets import table
    from gearpump_spark.operators import sketches as SK

    bloom = SK.bloom_build(table(spark, sf_dir, "orders"), "o_custkey")
    probed = SK.bloom_probe(bloom, table(spark, sf_dir, "customer"), "c_custkey")
    p = plan(probed)
    assert "BroadcastHashJoin" in p, "bloom filter side must broadcast, not shuffle"


def test_hash_sample_filter_pushed_to_scan(spark, sf_dir):
    from gearpump_spark.datasets import table
    from gearpump_spark.operators import sampling as SP

    # parallelize=False: skip the local-rig single-file repartition so the
    # plan under test is the at-scale shape (real tables have many splits).
    p = plan(SP.hash_sample(table(spark, sf_dir, "documents", parallelize=False), "doc_id", 1000))
    assert "Exchange" not in p, "hash sampling must be scan-local (no shuffle)"


def test_bottom_k_sample_no_global_sort(spark, sf_dir):
    from gearpump_spark.datasets import table
    from gearpump_spark.operators import sampling as SP

    p = plan(SP.bottom_k_sample(table(spark, sf_dir, "documents"), "doc_id", 64))
    assert "TakeOrderedAndProject" in p, "bottom-k must plan as TakeOrdered, not sort"


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    from gearpump_spark.datasets import table
    from gearpump_spark.stream import Stream

    ev = table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    days = sorted(r.day for r in ev.select("day").distinct().collect())
    assert len(days) >= 2, "fixture must span multiple days for this test"
    path = str(tmp_path / "events_by_day")
    Stream(ev).sink_parquet_partitioned(path, ["day"])

    back = spark.read.parquet(path).where(F.col("day") == days[0])
    p = plan(back)
    assert "PartitionFilters" in p and "day" in p.split("PartitionFilters", 1)[1][:200]
    expected = ev.where(F.col("day") == days[0]).count()
    assert back.count() == expected
    import os
    assert any(d.startswith("day=") for d in os.listdir(path)), "hive-style layout"


def test_dynamic_partition_pruning_on_day_join(spark, sf_dir, tmp_path):
    """Joining a day-partitioned fact to a filtered dim must inject a
    dynamic pruning subquery: at 100 TB only the dim's days are scanned."""
    from gearpump_spark.datasets import table
    from gearpump_spark.stream import Stream

    ev = table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    days = sorted(r.day for r in ev.select("day").distinct().collect())
    path = str(tmp_path / "events_dpp")
    Stream(ev).sink_parquet_partitioned(path, ["day"])

    fact = spark.read.parquet(path)
    # DPP requires a *selective predicate* on the build side — a bare
    # literal relation doesn't qualify, a filtered one does.
    dim = spark.createDataFrame(
        [(d, f"campaign_{i}") for i, d in enumerate(days)], "day date, campaign string"
    ).where(F.col("campaign") == "campaign_0")
    joined = fact.join(dim, "day")
    p = plan(joined)
    assert "dynamicpruning" in p.lower(), "expected a DPP subquery on the day key"
    assert joined.count() == ev.where(F.col("day") == days[0]).count()


def test_aqe_splits_skewed_join_partition(spark):
    """A hot key must not serialize the join: with AQE skew handling on,
    the executed plan splits the oversized partition (skew=true markers).
    This plus salted_join covers both skew strategies at 100 TB."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 600_000).select(
            F.when(F.col("id") < 500_000, 0).otherwise(F.col("id") % 100).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
        j = left.join(right, "k").select(F.sum("v").alias("s"))
        assert j.collect()[0].s == 179_999_700_000  # correctness under the split
        p = plan(j)  # same DataFrame -> finalized adaptive plan
        assert "isFinalPlan=true" in p
        assert p.count("skew=true") >= 1, "AQE must mark/split the skewed partition"
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_join_rejects_right_outer(spark):
    from gearpump_spark.operators.physical import salted_join

    left = spark.range(2).select(F.col("id").alias("k"))
    right = spark.range(2).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="unmatched right rows"):
        salted_join(left, right, "k", how="full")


def test_salted_aggregate_spreads_constant_values(spark):
    """Regression: salting by hash(value) collapses when the hot key's
    values are constant — the counter-based salt must still spread."""
    from gearpump_spark.operators.physical import salted_aggregate

    df = spark.range(0, 4000).select(F.lit("hot").alias("k"), F.lit(1).alias("v"))
    out = salted_aggregate(df, "k", "v", n_salts=8).collect()
    assert out == [("hot", 4000)] or (out[0].k == "hot" and out[0].total == 4000)
    salted = df.withColumn("__salt", F.pmod(F.monotonically_increasing_id(), F.lit(8)))
    n_groups = salted.select("__salt").distinct().count()
    assert n_groups > 1, "constant values must still spread over salts"


def test_temperature_mix_rate_table_broadcasts(spark, sf_dir):
    """The per-source rate table is a tiny aggregate joined back by
    broadcast — the corpus side must never shuffle for the join."""
    p = plan(QS["sample_temperature_mix"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    # corpus scan feeds the broadcast join without a hash exchange of its own
    assert "SortMergeJoin" not in p


def test_centroid_outliers_scores_via_broadcast(spark, sf_dir):
    """Centroid sums broadcast back to the corpus: the scoring join is a
    BroadcastHashJoin and the corpus is never exploded a second time."""
    p = plan(QS["embedding_outliers"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    # one posexplode (the centroid aggregate), not two
    assert p.lower().count("generate posexplode") <= 1


def test_boilerplate_bp_set_broadcasts(spark, sf_dir):
    """The high-DF shingle set joins back by broadcast; per-doc tally is
    partial-aggregated map-side before its exchange."""
    p = plan(QS["text_boilerplate"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert p.count("HashAggregate") >= 2


def test_session_window_single_keyed_exchange(spark, sf_dir):
    """Native session windows: one hashpartitioning exchange on the key
    (plus the local-rig scan repartition) — merging happens inside the
    per-key sort, no extra shuffles."""
    from gearpump_spark.datasets import table

    ev = table(spark, sf_dir, "events", parallelize=False)
    df = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
    )
    p = plan(df)
    assert p.count("hashpartitioning") == 1


def test_incremental_dedup_anti_join_and_mapside_min(spark, sf_dir):
    p = plan(QS["dedup_incremental"](spark, sf_dir), "extended")
    assert "LeftAnti" in p, "snapshot check must be an anti-join, not a filter scan"
    # within-batch min-id dedup must partial-aggregate map-side before the
    # fp shuffle (bodies reduce to 16-byte fingerprints pre-exchange)
    assert p.count("HashAggregate") >= 2


def test_doc_freq_total_is_broadcast(spark, sf_dir):
    p = plan(QS["text_doc_freq"](spark, sf_dir))
    # the 1-row corpus count joins by broadcast, never a shuffled cross join
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert p.count("HashAggregate") >= 2  # word counts combine map-side


def test_chunk_windows_zero_exchanges_pre_sort(spark, sf_dir):
    from gearpump_spark.operators.chunking import chunk_by_tokens

    # the operator itself (without the query's presentation orderBy) must
    # be a pure narrow map: tokenize/explode/slice with no shuffle at all.
    # Raw read, not datasets.table(): the table() helper's single-split
    # parallelism guard inserts a round-robin repartition on this rig
    # (docs/SCALING.md), which would mask the operator's own shape.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan(chunk_by_tokens(docs))
    assert "Exchange" not in p


def test_chunk_pack_pipeline_shards_avoid_global_window(spark, sf_dir):
    from gearpump_spark.datasets import table
    from gearpump_spark.operators import chunking as CH
    from gearpump_spark.operators import sampling as SP

    docs = table(spark, sf_dir, "documents")
    chunks = CH.chunk_by_tokens(docs, size=32, stride=32).withColumn(
        "key", F.concat_ws(":", F.col("doc_id"), F.col("chunk_idx"))
    )
    p = plan(SP.pack_sequences(chunks, "key", "n_tokens", budget=128, shards=8))
    # sharded packing must hash-partition by shard; a SinglePartition
    # exchange means the whole corpus funnels through one task's window
    assert "SinglePartition" not in p


def test_tfidf_and_bigram_partial_aggregation(spark, sf_dir):
    for name in ("text_tfidf_topterms", "text_rare_bigram_frac"):
        p = plan(QS[name](spark, sf_dir))
        assert p.count("HashAggregate") >= 2, name  # map-side combine on word/bigram


def test_lsh_pairs_bucketed_equi_join_not_nested_loop(spark, sf_dir):
    """The LSH candidate join MUST be an equi-join on (band_idx, band_key)
    — a nested-loop/cartesian here is the all-pairs blow-up LSH exists to
    avoid."""
    p = plan(QS["dedup_minhash_lsh_pairs"](spark, sf_dir))
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_minhash_signatures_partial_agg(spark, sf_dir):
    """Signature build: per-doc MIN over shingle hashes must combine
    map-side — the shuffle carries k x 32B partials, not raw shingles.
    (String mins plan as SortAggregate, so check for the partial_min
    functions rather than HashAggregate nodes.)"""
    p = plan(QS["dedup_minhash_signature"](spark, sf_dir))
    assert "partial_min" in p
    assert p.count("Aggregate") >= 2  # partial + final


def test_upsert_split_matches_full_outer_and_never_shuffles_snapshot(spark):
    from gearpump_spark.operators.physical import upsert_split

    snap = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    ups = spark.createDataFrame(
        [(3, 999), (7, 888), (2000, 111)], "k bigint, v bigint"
    )
    merged = upsert_split(snap, ups, "k")
    got = {(r.k, r.v) for r in merged.collect()}
    # equivalence with the general full-outer coalesce form
    full = (
        snap.alias("s")
        .join(ups.alias("u"), "k", "full_outer")
        .select("k", F.coalesce("u.v", "s.v").alias("v"))
    )
    assert got == {(r.k, r.v) for r in full.collect()}
    p = plan(merged)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "hashpartitioning" not in p  # the snapshot is never exchanged


def test_ivf_persistent_index_query_no_corpus_exchange(spark):
    """Index build pays the bucketed write once; the query path must show
    a broadcast probe join with NO exchange of the stored lists, and
    results must equal the inline (non-persistent) IVF search."""
    from gearpump_spark.operators.similarity import (
        cosine_topk_ivf,
        ivf_topk_from_index,
        ivf_write_index,
    )

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = corpus.limit(6).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    try:
        cents = ivf_write_index(corpus, "ivf_idx_test", nlist=8, n_buckets=4)
        out = ivf_topk_from_index(spark, "ivf_idx_test", queries, cents, nprobe=3, k=4)
        p = plan(out)
        assert "BroadcastHashJoin" in p
        # the bucketed list table must not be re-exchanged for the join
        segs = [s for s in p.split("Exchange")[1:]]
        for s in segs:
            first_line = s.splitlines()[0]
            assert "cid" not in first_line, f"corpus lists re-shuffled: {first_line}"
        inline = cosine_topk_ivf(queries, corpus, nlist=8, nprobe=3, k=4)
        assert {tuple(r) for r in out.collect()} == {tuple(r) for r in inline.collect()}
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_idx_test")


def test_multimodal_decode_pipelines_are_narrow(spark):
    """Synthesize->decode multimodal pipelines must be pure narrow maps:
    payload bytes never enter an exchange. (Raw read — datasets.table's
    single-split parallelism guard would add its local-rig repartition.)"""
    from gearpump_spark.operators.multimodal import (
        GifDecoder,
        JpegDecoder,
        animated_gif_payload,
        gif_frame_stats,
        jpeg_progressive_payload,
        pixel_stats,
        png_raster_payload,
        synthesize_payloads,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id"
    )
    for df in (
        pixel_stats(synthesize_payloads(docs, png_raster_payload)),
        pixel_stats(synthesize_payloads(docs, jpeg_progressive_payload), decoder=JpegDecoder()),
        gif_frame_stats(synthesize_payloads(docs, animated_gif_payload)),
    ):
        p = plan(df)
        assert "Exchange" not in p


def test_bm25_topk_broadcasts_and_takeordered(spark, sf_dir):
    """BM25: the 3-term df table and the 1-row corpus totals broadcast
    (never shuffle the corpus against them), and the top-10 compiles to
    TakeOrderedAndProject — no global sort of all scored docs."""
    p = plan(QS["text_bm25_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert p.count("BroadcastExchange") >= 2  # dfc + totals


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    """Spark-native runtime Bloom filtering (SPARK-32268): on a shuffle
    join whose build side is selectively filtered, Catalyst injects a
    bloom_filter_agg on the build side and a might_contain probe on the
    fact scan — the engine-native counterpart of the portable
    operators/sketches.bloom_filtered_join (which stays for cross-engine
    reproducibility and pre-shuffle drop control). Default-on in Spark 4;
    the size thresholds (10 GB application-side scan) gate it to
    genuinely large scans, so at 100 TB it fires with NO tuning — the
    test lowers the thresholds to trigger at fixture scale."""
    old = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        # force a shuffle join: broadcast joins don't need a runtime filter
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        p = plan(j)
        assert "bloom_filter_agg" in p
        assert "might_contain" in p
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_text_inverted_index_query_matches_inline_and_prunes(spark):
    """Persistent inverted index (the text twin of the IVF index): build
    pays the tokenize + bucketed write once; the query path must read
    ONLY the query terms' postings (pushed filter on the bucketed sort
    key), never re-tokenize the corpus, and return exactly the inline
    bm25_topk result."""
    from gearpump_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_from_index,
        text_index_write,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    terms = ("vector", "merge", "stream")
    try:
        text_index_write(docs, "txt_idx_test", n_buckets=4)
        out = bm25_topk_from_index(spark, "txt_idx_test", terms, k=10)
        p = plan(out)
        # term filter reaches the postings scan
        assert "PushedFilters" in p
        pushed = p.split("PushedFilters")[1][:300]
        assert "word" in pushed and "In(" in pushed
        # no tokenizer in the query plan: the corpus text is never read
        assert "text" not in p.split("ReadSchema")[1][:200]
        assert "TakeOrderedAndProject" in p
        inline = bm25_topk(docs, terms, k=10)
        assert [tuple(r) for r in out.collect()] == [tuple(r) for r in inline.collect()]
    finally:
        for t in ("txt_idx_test", "txt_idx_test_docs", "txt_idx_test_stats"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_positional_index_phrase_matches_inline_and_prunes(spark):
    """Positional inverted index: phrase queries read only the phrase
    terms' postings (pushed In-filter), never re-tokenize the corpus,
    and agree exactly with the inline positional join — including a
    3-term phrase and a repeated-term phrase."""
    from gearpump_spark.operators.retrieval import (
        phrase_match,
        phrase_match_from_index,
        positional_index_write,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    try:
        positional_index_write(docs, "pos_idx_test", n_buckets=4)
        for phrase in (
            ("merge", "stream"),
            ("table", "table"),          # repeated term: overlapping anchors
            ("data", "query", "small"),  # 3-term: two offset joins
        ):
            out = phrase_match_from_index(spark, "pos_idx_test", phrase)
            inline = phrase_match(docs, phrase)
            assert [tuple(r) for r in out.collect()] == [
                tuple(r) for r in inline.collect()
            ], phrase
        p = plan(phrase_match_from_index(spark, "pos_idx_test", ("merge", "stream")))
        assert "PushedFilters" in p
        assert "text" not in p.split("ReadSchema")[1][:200]
    finally:
        spark.sql("DROP TABLE IF EXISTS pos_idx_test")


def test_triangle_estimate_samples_before_wedge_join(spark):
    """DOULION: the seeded-hash edge filter must run BEFORE the wedge
    self-join (sampling cuts the quadratic stage, not just the output),
    and the estimator keeps the exact path's pinned exchange widths +
    salting (AQE join-explosion defense)."""
    from gearpump_spark.operators.graph import triangle_count_estimate

    edges = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .selectExpr("l_orderkey", "l_partkey")
        .distinct()
        .limit(500)
        .selectExpr("l_orderkey as src", "l_partkey as dst")
    )
    p = plan(triangle_estimate_df := triangle_count_estimate(edges, p_bp=2000, seed=7))
    # the md5 sampling predicate must appear in a Filter (pre-join), and
    # the wedge join keys must include the salt column
    assert "md5" in p and "Filter" in p
    assert "_salt" in p
    # closing + wedge joins stay equi-joins (hash/merge), never a
    # nested-loop over the corpus
    assert "CartesianProduct" not in p
    # smoke: the plan executes
    assert triangle_estimate_df.count() == 1


def test_video_stsd_walk_is_narrow(spark):
    """The stbl metadata walk is a pure narrow Arrow map: payload bytes
    never enter an exchange."""
    from gearpump_spark.operators.multimodal import (
        decode_video_sample_tables,
        mp4_stsd_payload,
        synthesize_payloads,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id"
    )
    p = plan(decode_video_sample_tables(synthesize_payloads(docs, mp4_stsd_payload)))
    assert "Exchange" not in p


def test_merge_into_single_shuffle_no_cartesian(spark):
    """MERGE INTO compiles to one keyed full-outer sort-merge join — one
    exchange per side, no nested-loop/cartesian, and the CASE projection
    adds no extra shuffle."""
    from pyspark.sql import functions as F

    from gearpump_spark.operators.physical import merge_into

    snap = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").select(
        "c_custkey", "c_acctbal"
    )
    ups = snap.where(F.col("c_custkey") % 10 < 3).select(
        "c_custkey",
        (F.col("c_acctbal") + 1).alias("c_acctbal"),
        F.lit("U").alias("op"),
    )
    p = plan(
        merge_into(
            snap,
            ups,
            "c_custkey",
            update_set={"c_acctbal": F.col("u.c_acctbal")},
            delete_condition=F.col("u.op") == "D",
        )
    )
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "FullOuter" in p or "full_outer" in p.lower()
    # one keyed exchange per side, none added by the CASE projection —
    # formatted plans list each Exchange node once in the tree section
    # and once in the details section, so 2 nodes = 4 mentions
    assert p.count("Exchange") <= 4, p


def test_zorder_layout_range_partitions_and_clusters_both_dims(spark):
    """zorder_layout must (a) range-exchange on the Morton code (the one
    shuffle that buys the layout), (b) sort within partitions, and (c)
    actually cluster: each partition's span on EACH dimension stays well
    under the full range (a 1-D sort would leave the minor dim at ~100%)."""
    from gearpump_spark.operators.physical import zorder_layout

    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("a"),
        (F.col("id") * 2654435761 % 64).alias("b"),
    )
    out = zorder_layout(df, ["a", "b"], n_files=16)
    p = plan(out)
    assert "rangepartitioning" in p.lower()
    assert "sort" in p.lower()
    spans = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("a") - F.min("a")).alias("sa"),
            (F.max("b") - F.min("b")).alias("sb"),
        )
        .collect()
    )
    assert len(spans) > 4
    avg_sa = sum(r.sa for r in spans) / len(spans)
    avg_sb = sum(r.sb for r in spans) / len(spans)
    # full span is 63 on both dims; z-ordered partitions should average
    # well under half of it on each
    assert avg_sa < 32, avg_sa
    assert avg_sb < 32, avg_sb
    # __zkey is the layout key and stays in the output for the writer
    assert "__zkey" in out.columns


def test_scd2_single_keyed_exchange(spark, sf_dir):
    """scd2_history: lag/run-number/groupBy/lead all reuse ONE hash
    exchange on the key — a second hash exchange would mean the window
    specs or grouping keys drifted apart. (The plan also carries the
    fixture round-robin repartition from datasets.table() — a documented
    local-rig no-op — and the presentation ORDER BY's range exchange;
    neither is keyed work.)"""
    p = plan(QS["q_scd2_history"](spark, sf_dir)).lower()
    assert p.count("hashpartitioning") == 1, p


def test_fuzzy_d1_equi_join_not_nested_loop(spark, sf_dir):
    """SymSpell candidate generation must plan as a hash equi-join on the
    deletion variant (plus the tiny broadcast threshold exchanges a
    distinct needs) — a BroadcastNestedLoopJoin would mean the variant
    key fell out of the join condition."""
    p = plan(QS["dedup_fuzzy_names"](spark, sf_dir))
    assert "nestedloop" not in p.lower(), p
    assert "sortmergejoin" in p.lower() or "shuffledhashjoin" in p.lower() \
        or "broadcasthashjoin" in p.lower(), p


def test_zorder_query_single_scan_broadcast_bounds(spark, sf_dir):
    """q_zorder_layout: the bounds row enters via BroadcastExchange (one
    O(1)-row agg), the interleave is codegen'd expressions (no UDF), and
    the only hash exchange is the 16-bucket aggregation."""
    p = plan(QS["q_zorder_layout"](spark, sf_dir))
    assert "broadcastexchange" in p.lower(), p
    assert "pythonudf" not in p.lower(), p


def test_pq_encode_narrow_and_adc_corpus_never_shuffles(spark, sf_dir):
    """PQ encode must be a pure narrow map (codebook rides as literals —
    zero exchanges), and the ADC query path must broadcast the query
    side: the corpus codes see no exchange before scoring; the only
    non-broadcast exchange is the final per-query top-k window."""
    from gearpump_spark.operators.similarity import (
        pq_encode,
        pq_topk_adc,
        pq_train_codebook,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq_train_codebook(emb)
    p_enc = plan(pq_encode(emb, cb))
    assert "Exchange" not in p_enc

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    codes = pq_encode(emb, cb).select("vec_id", "codes")
    p_adc = plan(pq_topk_adc(q, codes, cb, k=5))
    assert "BroadcastNestedLoopJoin" in p_adc  # tiny query side broadcast
    assert "BroadcastExchange" in p_adc
    # exactly one data shuffle: hash-partition by q_id for the top-k window
    # (count detail headers "(n) Exchange" — the formatted plan prints each
    # node once in the tree and once in the detail section)
    assert p_adc.count(") Exchange") == 1
    assert "hashpartitioning(q_id" in p_adc


def test_hll_union_partial_aggregation(spark, sf_dir):
    """The HLL union reduces map-side: register build, union max-merge,
    and the estimate rollup must all be partial-agg pairs — the events
    scan collapses to <= |types| * 64 rows before any exchange."""
    p = plan(QS["sketch_hll_union"](spark, sf_dir))
    assert p.count("HashAggregate") >= 6


def test_ivfpq_corpus_single_narrow_map_broadcast_probe(spark, sf_dir):
    """IVF-PQ: the corpus side must be one narrow map to (id, cid, codes)
    joined by a broadcast HASH join on cid (not nested-loop — the probe
    is an equi-join); the only data shuffle is the per-query top-k."""
    from gearpump_spark.operators.similarity import pq_topk_ivfadc, pq_train_codebook

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq_train_codebook(emb)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    p = plan(pq_topk_ivfadc(q, emb, cb, nlist=8, nprobe=3, k=5))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count(") Exchange") == 1
    assert "hashpartitioning(q_id" in p


def test_gopher_and_blocklist_scan_local(spark, sf_dir):
    """The quality-rule battery and the blocklist screen are pure
    projections: no joins, no aggregates, and the only exchange allowed
    is the presentation orderBy's range partitioning."""
    for name in ("text_gopher_rules", "text_blocklist_filter"):
        p = plan(QS[name](spark, sf_dir))
        assert "Join" not in p, name
        assert "HashAggregate" not in p, name
        assert "hashpartitioning" not in p, name  # only the sort's range exchange


def test_link_prediction_salted_wedge_and_anti_join(spark):
    """Exact (uncapped) mode: the wedge self-join must run on the
    hub-GATED salted key (r11 — per-center width _ns, probe pmod hash,
    build explode(sequence) replication, NO Union above the wedge join)
    with an AQE-exempt width pin; predictions come from a LEFT-ANTI
    against existing edges; the top-k compiles to TakeOrderedAndProject
    — no global sort of every candidate pair."""
    from gearpump_spark.operators.graph import link_predict_common_neighbors

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 40) for i in range(40)], "src long, dst long"
    )
    p = plan(link_predict_common_neighbors(edges, k=10))
    assert "_salt" in p
    assert "pmod(hash(" in p, "probe-side gated salt missing"
    assert "sequence(0," in p, "build-side _ns replication missing"
    # the gate must ride INSIDE one join (r11 sf1 lesson: a two-branch
    # hub/tail union de-fuses the quadratic codegen span): exactly ONE
    # join keyed on the salt, and NO second wedge join keyed on the
    # center alone (the two-branch variant's unsalted tail branch)
    import re as _re

    assert len(_re.findall(r"Left keys \[\d+\]: \[c#[^\]]*_salt", p)) == 1, (
        "expected exactly one salted wedge join"
    )
    # a center-only-keyed join may ONLY be the broadcast hub-width attach
    # (LeftOuter BHJ); a SHUFFLED inner join on the bare center key is the
    # de-fused tail branch
    for block in p.split("\n\n"):
        if _re.search(r"Left keys \[1\]: \[c#", block):
            assert "BroadcastHashJoin" in block, (
                "shuffled center-key join present: wedge stage de-fused "
                "into the two-branch union (r11 sf1 lesson)\n" + block
            )
    assert "LeftAnti" in p
    assert "TakeOrderedAndProject" in p
    # REPARTITION_BY_NUM pins the wedge exchange width against AQE
    assert "REPARTITION_BY_NUM" in p


def test_link_prediction_capped_mode_unsalted(spark):
    """Capped mode (max_degree below the hub threshold): no hub can
    exist, so the wedge join must be UNSALTED (2x|adj| rows through the
    exchange instead of 17x) and never sorted (shuffle_hash); the width
    pin stays."""
    from gearpump_spark.operators.graph import link_predict_common_neighbors

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 40) for i in range(40)], "src long, dst long"
    )
    p = plan(link_predict_common_neighbors(edges, k=10, max_degree=64))
    assert "_salt" not in p, "capped graphs must skip the salt entirely"
    assert "SortMergeJoin" not in p, "capped wedge/degree joins must not sort"
    assert "LeftAnti" in p
    assert "TakeOrderedAndProject" in p
    assert "REPARTITION_BY_NUM" in p


def test_cdc_chunks_narrow_map(spark, sf_dir):
    """Boundary tests, segmentation, and fingerprints are array
    expressions in ONE narrow map — zero exchanges before any downstream
    dedup shuffle."""
    from gearpump_spark.operators.chunking import cdc_chunks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan(cdc_chunks(docs))
    assert "Exchange" not in p


def test_random_projection_no_exchange(spark, sf_dir):
    """The JL projection is a zero-shuffle narrow map — two Project nodes
    over the scan, nothing else (higher-order array folds run outside
    whole-stage codegen by design, but never leave the scan stage)."""
    from gearpump_spark.operators.similarity import random_projection

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan(random_projection(emb, "embedding", dim=64, out_dim=16))
    assert "Exchange" not in p


def test_hard_negatives_broadcast_anchors_corpus_never_shuffles(spark, sf_dir):
    """Anchors broadcast; the only exchange after the corpus scan is the
    per-anchor top-k window shuffle on q_id."""
    p = plan(QS["similarity_hard_negatives"](spark, sf_dir))
    assert "BroadcastExchange" in p
    # exchanges: q_id window + presentation sort (+ table() split guard)
    assert p.count("Exchange hashpartitioning") <= 1


def test_unimax_single_corpus_groupby(spark, sf_dir):
    """The corpus touches exactly ONE hash exchange (the per-source agg,
    map-side combined); everything downstream runs on n_sources rows."""
    p = plan(QS["sample_unimax_mix"](spark, sf_dir))
    assert "partial_sum" in p or "partial" in p.lower()
    assert p.count("Exchange hashpartitioning") <= 2  # agg + tiny window


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Spark's dynamic partition pruning (SPARK-11150): a fact table
    partitioned on the join key reads ONLY the partitions the filtered
    dim side selects at runtime — the layout discipline that turns a
    100 TB date-partitioned scan into a few-partition read. Pinned:
    the scan carries a dynamicpruning subquery expression, and the
    executed scan reads fewer files than the full partition count."""
    fact = spark.range(0, 10_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 20).alias("day"),
        (F.col("id") * 7).alias("v"),
    )
    path = str(tmp_path / "fact_days")
    fact.write.mode("overwrite").partitionBy("day").parquet(path)
    dim = spark.createDataFrame(
        [(d, "keep") for d in (3, 4)], "day long, tag string"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # a broadcast dim is the DPP-eligible shape
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
        f = spark.read.parquet(path)
        j = f.join(dim.where(F.col("tag") == "keep"), "day").select("k", "v", "day")
        p = plan(j)
        assert "dynamicpruning" in p.lower(), p
        assert j.count() == 1000  # 2 of 20 partitions
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_binary_quantize_no_exchange(spark, sf_dir):
    """Sign-bit packing is a zero-shuffle narrow map: nothing but the
    scan (plus the fixture split guard) in the plan."""
    p = plan(QS["embedding_quantize_binary"](spark, sf_dir))
    # presentation sort only; no hash exchange anywhere
    assert "Exchange hashpartitioning" not in p


def test_hamming_topk_broadcast_queries_corpus_never_shuffles(spark, sf_dir):
    """The query-side word table broadcasts; the corpus reaches exactly
    one hash exchange (the per-query top-k window)."""
    p = plan(QS["similarity_topk_hamming"](spark, sf_dir))
    assert "BroadcastExchange" in p
    assert p.count("Exchange hashpartitioning") <= 1


def test_ewma_single_keyed_window_shuffle(spark, sf_dir):
    """All 20 LAG taps share one window spec — exactly one keyed
    exchange (event_type), one Window node evaluating every tap."""
    p = plan(QS["q_ewma_smooth"](spark, sf_dir))
    assert p.count("Exchange hashpartitioning") <= 1
    assert p.count("Window") >= 1


def test_file_skip_stats_partial_agg_before_exchange(spark, sf_dir):
    """Zone maps are map-side partial min/max/count per (layout, file) —
    the exchange carries file-granularity rows, never raw lineitems."""
    p = plan(QS["q_file_skip_stats"](spark, sf_dir))
    assert "partial" in p.lower()


def test_temporal_lookup_keyed_join_no_cartesian(spark, sf_dir):
    """The SCD2 interval lookup is a user-keyed equi-join with the
    interval predicate as post-join filters — never a nested loop."""
    p = plan(QS["q_temporal_lookup"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_snapshot_diff_no_nested_loop(spark, sf_dir):
    """Full-outer snapshot diff joins on the key (SMJ/hash), and the
    unchanged-row filter sits on the join, not a second pass."""
    p = plan(QS["q_snapshot_diff"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_mulaw_decode_scan_local(spark, sf_dir):
    """Real-byte codec tier stays a narrow Arrow map: no hash exchange
    anywhere (payloads never shuffle; only per-doc aggregate ints move)."""
    p = plan(QS["multimodal_mulaw_real"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in p


def test_file_skip_single_fact_scan(spark, sf_dir):
    """Both layouts explode from ONE lineitem scan — the union-of-
    projections form would read the fact table twice."""
    p = plan(QS["q_file_skip_stats"](spark, sf_dir))
    assert p.count("FileScan parquet") <= 1


# ---------------------------------------------------------------------------
# r6 (r5 verdict #2): full-registry audit — no single-partition Window sort
# may appear in ANY registered query's physical plan unless the op documents
# why it is safe. A Window over Exchange SinglePartition is a one-task sort
# of its whole input: fine over an aggregate's bounded output (days, sources,
# file inventory), fatal over a 100 TB fact table (the text_oov_rate bug this
# test exists to prevent recurring).
# ---------------------------------------------------------------------------

# name -> why a global window is acceptable HERE. Adding a query that trips
# the audit without an entry (or keeping an entry for a query that no longer
# trips it) fails the test — the allowlist cannot rot in either direction.
GLOBAL_WINDOW_ALLOWLIST = {
    # inherent semantics, dimension-sized input; docstring carries the
    # percentile_approx alternative for fact-table scale
    "q_ntile": "exact NTILE needs the total order; customer is dim-sized",
    # windows run over per-(source,tok) aggregate output, not the corpus
    "text_kl_source_drift": "window input is the (source,token) aggregate",
    # (r6: sample_pack_sequences / sample_shuffle_order /
    # sample_negative_pairs left this list — they now rank through
    # operators/sampling.py:global_positions, the range-partitioned
    # distributed rank, instead of a global window.)
    # windows over n_sources rows (per-source totals)
    "sample_unimax_mix": "window input is per-source totals",
    # running sum over per-day aggregate output (~days rows)
    "q_running_distinct": "cumulative sum over per-day aggregate",
    # prefix/running-min/global-max over per-day aggregate output
    "q_cusum_changepoint": "CUSUM windows over the per-day aggregate",
    # window over the file inventory (files, not rows)
    "q_compaction_plan": "window input is the file-stats inventory",
    # largest-remainder apportionment ranks |domains| rows (20) — the
    # corpus never reaches the window; a global rank over a
    # domain-cardinality frame is the apportionment's semantics
    "sample_domain_reweight_int": "window input is the per-domain weight frame",
}


def _has_single_partition_window(p: str) -> bool:
    lines = p.splitlines()
    for i, ln in enumerate(lines):
        if "Window" in ln and "WindowGroupLimit" not in ln:
            for la in lines[i + 1 : i + 6]:
                if "SinglePartition" in la:
                    return True
    return False


def test_no_undocumented_global_window_sorts(built):
    """Every registered query's physical plan (built once at sf0.001 by
    the session fixture in tests/conftest.py) is scanned; the set of
    queries containing a Window fed by Exchange SinglePartition must equal
    GLOBAL_WINDOW_ALLOWLIST exactly."""
    results = {
        name: q.df if isinstance(q.df, str) else _has_single_partition_window(q.simple_plan)
        for name, q in built.items()
    }

    errors = {n: r for n, r in results.items() if isinstance(r, str)}
    assert not errors, f"plans failed to build: {errors}"
    flagged = {n for n, r in results.items() if r is True}
    undocumented = flagged - set(GLOBAL_WINDOW_ALLOWLIST)
    stale = set(GLOBAL_WINDOW_ALLOWLIST) - flagged
    assert not undocumented, (
        f"single-partition Window sort in {sorted(undocumented)} — rewrite "
        "as orderBy().limit() / partitioned window, or document it in "
        "GLOBAL_WINDOW_ALLOWLIST with the boundedness argument."
    )
    assert not stale, (
        f"GLOBAL_WINDOW_ALLOWLIST entries no longer needed: {sorted(stale)}"
    )


def test_asof_tolerance_single_user_shuffle(spark, sf_dir):
    """Tolerant as-of = union/sort/carry-forward: exactly one keyed
    exchange (user_id), no join operator, no row explosion."""
    p = plan(QS["q_asof_tolerance_join"](spark, sf_dir))
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert p.count("Exchange hashpartitioning(user_id") <= 1


def test_window_funnel_single_window_no_joins(spark, sf_dir):
    """The four funnel steps run as chained Window nodes that SHARE one
    user_id clustering — a single keyed exchange, zero joins (the
    oracle's 4-way CTE join cascade is the readable form, not the
    plan)."""
    p = plan(QS["q_window_funnel"](spark, sf_dir))
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert p.count("Exchange hashpartitioning(user_id") <= 1


def test_poisson_bootstrap_scan_local(spark, sf_dir):
    """Replicate weights are scan-local expressions: the only exchange
    feeds the final 10-row aggregate (no corpus shuffle, no UDF)."""
    p = plan(QS["sample_poisson_bootstrap"](spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # one exchange for the groupBy(rep) partial->final aggregate
    assert p.count("Exchange hashpartitioning") <= 1


def test_url_canonical_no_udf_one_exchange(spark, sf_dir):
    """Canonicalization is pure JVM string expressions; the only shuffle
    is the canonical-URL aggregate (map-side combinable)."""
    p = plan(QS["dedup_url_canonical"](spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "HashAggregate" in p  # partial agg present -> map-side combine


def test_range_search_joins_on_bucket_only(spark, sf_dir):
    """The pair join keys on the LSH bucket — never a cross join."""
    p = plan(QS["similarity_range_search"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_covariance_single_scan_no_explode(spark, sf_dir):
    """All 8+36 moments accumulate in ONE aggregate over ONE scan — the
    oracle's explode+self-join is math-equivalent, not the plan."""
    p = plan(QS["embedding_covariance"](spark, sf_dir))
    assert p.count("FileScan parquet") <= 1
    assert "SortMergeJoin" not in p


def test_join_family_always_has_equi_keys(spark, sf_dir):
    """The r6 re-verification cohort's join family: every join in the
    plan is hash/sort-merge on an equality key — a range or outer
    predicate must ride ON an equi-join (as a join condition or
    post-filter), never degrade to a nested loop / cartesian. This is
    the property that keeps these joins shuffle-bounded at 100 TB."""
    for name in (
        "q_range_join",
        "q_semi_join",
        "q_anti_join",
        "q_outer_join_counts",
        "q_asof_join",
        "q_copurchase_pairs",
    ):
        p = plan(QS[name](spark, sf_dir))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


# ---------------------------------------------------------------------------
# r7 additions: plan pins for the round's new queries
# ---------------------------------------------------------------------------


def test_pmi_bigrams_topk_takeordered_no_python(spark, sf_dir):
    """The top-50 collocation pick must plan as TakeOrderedAndProject
    (per-partition heaps, never a global sort of the bigram vocabulary)
    and the whole pipeline stays JVM-side."""
    p = plan(QS["text_pmi_bigrams"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_percentile_bands_window_is_group_partitioned(spark, sf_dir):
    """The order-statistic rank runs under a window PARTITIONED by the
    group key — never Exchange SinglePartition (the audit above would
    catch it too; this pin localizes the failure) — and the band pick is
    a partial-aggregable conditional agg."""
    p = plan(QS["q_percentile_bands"](spark, sf_dir))
    assert "hashpartitioning(o_orderpriority" in p
    lines = p.splitlines()
    for i, ln in enumerate(lines):
        if "Window" in ln and "WindowGroupLimit" not in ln:
            ctx = "\n".join(lines[i + 1 : i + 6])
            assert "SinglePartition" not in ctx, "band rank went single-task"


def test_theta_anotb_sketches_are_takeordered_corpus_never_joined(spark, sf_dir):
    """Each KMV min-set is a TakeOrdered of k hashes, materialized ONCE
    (r11 lazy localCheckpoint — every combine leg otherwise re-ran the
    full distinct scan + TakeOrdered over the corpus), so the combine's
    plan joins only ExistingRDD leaves of <= k rows: no join carries
    corpus-sized inputs on both sides, and the corpus scan appears in
    neither combine leg. The TakeOrdered pin moves to the min-set
    subtree itself (visible before the checkpoint cut)."""
    df = QS["sketch_theta_anotb"](spark, sf_dir)
    p = plan(df)
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p, "min-set combine should broadcast, not SMJ"
    # the combine reads the two checkpointed 64-row min-sets, not the corpus
    assert "ExistingRDD" in p, "min-set checkpoints gone — corpus re-scans are back"
    assert "parquet" not in p, "combine leg re-reads the corpus"
    # and the min-set subtree (pre-checkpoint) is a TakeOrdered, never a
    # global sort: pin it on the min-set the operators build
    from gearpump_spark.operators.sketches import kmv_minset
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    kmin = kmv_minset(ev.select(F.col("user_id").cast("string").alias("u")), "u", 64, 4)
    assert "TakeOrderedAndProject" in plan(kmin)


def test_top_pc_int_single_distributed_agg(spark, sf_dir):
    """The only distributed work is ONE moment-aggregate pass over ONE
    scan; the 8x8 power iteration happens on the 45 collected ints. The
    returned DataFrame is a local createDataFrame (no scan at all)."""
    from gearpump_spark.datasets import table
    from pyspark.sql import functions as F

    emb = table(spark, sf_dir, "embeddings", parallelize=False)
    qd = emb.select(
        *[
            F.round(F.element_at("embedding", i).cast("double") * 1000, 0)
            .cast("long")
            .alias(f"q{i}")
            for i in range(1, 9)
        ]
    )
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.col(f"q{i}") * F.col(f"q{j}")).alias(f"s{i}_{j}")
        for i in range(1, 9)
        for j in range(i, 9)
    ]
    p = plan(qd.agg(*aggs))
    # partial agg -> ONE exchange -> final agg; no join anywhere
    # (formatted plans repeat each node in the details section, so count
    # tree nodes only)
    assert p.count("+- Exchange") == 1
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_adam7_audit_is_narrow_map(spark, sf_dir):
    """Synthesize + decode + per-pass stats are Arrow-batched narrow maps:
    payload bytes never cross an exchange (the only exchange allowed is
    the final output ordering)."""
    from gearpump_spark.datasets import table
    from gearpump_spark.operators.multimodal import (
        adam7_pass_stats,
        png_adam7_payload,
        synthesize_payloads,
    )

    docs = table(spark, sf_dir, "documents", parallelize=False).select("doc_id")
    p = plan(adam7_pass_stats(synthesize_payloads(docs, png_adam7_payload)))
    assert "Exchange" not in p, "payloads must not shuffle"


def test_pagerank_personalized_int_superstep_is_keyed_no_cartesian(spark):
    """One superstep of the integer RWR: contributions shuffle on the
    dst key; the dangling-mass scalar rides a 1-row broadcast (the only
    nested-loop join allowed is that broadcast of ONE row)."""
    from gearpump_spark.operators.graph import personalized_pagerank_int

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50) for i in range(200)], "src long, dst long"
    )
    p = plan(personalized_pagerank_int(edges, seeds=[0, 1], n_iter=1))
    assert "CartesianProduct" not in p


# ---------------------------------------------------------------------------
# r7 second/third wave: plan pins for the round's late additions
# ---------------------------------------------------------------------------


def _assert_no_single_partition_windows(p: str, what: str) -> None:
    """Every Window node in the formatted plan must sit over a partitioned
    exchange, never Exchange SinglePartition (the per-query pin twin of
    the full-registry audit above — localizes the failure)."""
    lines = p.splitlines()
    for i, ln in enumerate(lines):
        if "Window" in ln and "WindowGroupLimit" not in ln:
            ctx = "\n".join(lines[i + 1 : i + 6])
            assert "SinglePartition" not in ctx, what




def test_bottomk_rank_error_takeordered_broadcast_audit(spark, sf_dir):
    """The k=256 sample is a TakeOrdered on the seeded hash (per-partition
    heaps, never a global sort); the audit side joins the 1-row estimate
    record by broadcast — no sort-merge join anywhere, all JVM-side."""
    p = plan(QS["sketch_bottomk_rank_error"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_qgram_distance_rank_window_lang_partitioned_profiles_broadcast(
    spark, sf_dir
):
    """The trigram rank window partitions by lang (never a single-task
    sort of the count table), and the pairwise profile compare runs as
    broadcast joins over the |langs|*40-row profiles."""
    p = plan(QS["text_qgram_lang_distance"](spark, sf_dir))
    assert "hashpartitioning(lang" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    _assert_no_single_partition_windows(p, "profile rank went single-task")


def test_longest_dup_ngram_argmax_window_doc_partitioned(spark, sf_dir):
    """The winning-shingle argmax windows over (doc_id)-partitioned,
    already-aggregated shingle counts — never Exchange SinglePartition —
    and the ladder explode stays JVM-side."""
    p = plan(QS["text_longest_dup_ngram"](spark, sf_dir))
    assert "hashpartitioning(doc_id" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    _assert_no_single_partition_windows(p, "dup argmax went single-task")


def test_hll_intersection_no_corpus_join(spark, sf_dir):
    """Register merge and estimate arithmetic touch only <=3*64-row
    sketch tables; the one corpus-sized join is the exact-audit
    intersection (a keyed equi-join) — no sort-merge combine of sketch
    rows, no Python anywhere."""
    p = plan(QS["sketch_hll_intersection"](spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_decay_counts_partial_agg_single_pass(spark, sf_dir):
    """One map-side-combined aggregate pass: the decayed numerator is an
    integer SUM, so it partial-aggregates exactly like COUNT — partial +
    final HashAggregate over one scan, no Python, no join."""
    p = plan(QS["q_decay_counts"](spark, sf_dir))
    # formatted plans repeat each node in the details; count tree nodes only
    assert p.count("+- HashAggregate") == 2
    assert "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_curriculum_order_never_single_partition(spark, sf_dir):
    """The global rank routes through global_positions (range
    repartition + per-partition offsets): no Exchange SinglePartition
    may appear anywhere in the plan."""
    p = plan(QS["sample_curriculum_order"](spark, sf_dir))
    assert "Exchange SinglePartition" not in p
    assert "rangepartitioning" in p


def test_hashed_features_partial_agg_keyed(spark, sf_dir):
    """The signed-count aggregation shuffles once on (doc_id, bucket)
    with map-side partial sums; everything is JVM expressions (no
    vocabulary table, no Python)."""
    p = plan(QS["text_hashed_ngram_features"](spark, sf_dir))
    assert "hashpartitioning(doc_id" in p
    # formatted plans repeat each node in the details; count tree nodes only
    assert p.count("+- HashAggregate") == 2
    assert "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_rle_codec_paths_are_narrow_maps(spark, sf_dir):
    """PackBits-TIFF and RLE8-BMP synthesize+decode+stats pipelines are
    Arrow-batched narrow maps: payload bytes never cross an exchange."""
    from gearpump_spark.datasets import table
    from gearpump_spark.operators.multimodal import (
        bmp_rle8_payload,
        pixel_stats,
        synthesize_payloads,
        tiff_packbits_payload,
    )

    docs = table(spark, sf_dir, "documents", parallelize=False).select("doc_id")
    for encoder in (tiff_packbits_payload, bmp_rle8_payload):
        p = plan(pixel_stats(synthesize_payloads(docs, encoder)))
        assert "Exchange" not in p, "payloads must not shuffle"


def test_pagerank_weighted_int_superstep_keyed_no_cartesian(spark):
    """One superstep of the weighted integer PageRank: contributions
    shuffle on the dst key; the dangling-mass scalar rides a 1-row
    broadcast (the only nested-loop join allowed is that broadcast of
    ONE row)."""
    from gearpump_spark.operators.graph import pagerank_weighted_int

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50, 1 + i % 5) for i in range(200)],
        "src long, dst long, w long",
    )
    p = plan(pagerank_weighted_int(edges, n_iter=1))
    assert "CartesianProduct" not in p


def test_lang_attribution_windows_partitioned_profiles_broadcast(spark, sf_dir):
    """Doc and lang profile ranks window over partitioned keys (doc_id /
    lang, never SinglePartition); the lang profile broadcasts into the
    scoring join; all JVM-side."""
    p = plan(QS["text_lang_attribution"](spark, sf_dir))
    assert "hashpartitioning(doc_id" in p
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    _assert_no_single_partition_windows(p, "profile rank went single-task")


def test_activity_bitmaps_single_agg_pass(spark, sf_dir):
    """The six mask/popcount outputs share ONE map-side-combined
    groupBy(user_id) — BIT_OR is a monoid like COUNT — partial + final
    HashAggregate over one scan, no join, no Python."""
    p = plan(QS["q_activity_bitmaps"](spark, sf_dir))
    # formatted plans repeat each node in the details; count tree nodes only
    assert p.count("+- HashAggregate") == 2
    assert "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bigram_lm_perplexity_keyed_joins_jvm_side(spark, sf_dir):
    """LM scoring joins shuffle on the bigram/unigram keys (equi-joins
    only — no cartesian beyond the 1-row V broadcast) and the whole
    pipeline stays JVM-side."""
    p = plan(QS["text_bigram_lm_perplexity"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pagerank_weighted_personalized_int_superstep_no_cartesian(spark):
    """One superstep of the weighted RWR: dst-keyed contribution shuffle;
    the dangling-mass scalar rides a 1-row broadcast."""
    from gearpump_spark.operators.graph import personalized_pagerank_weighted_int

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50, 1 + i % 5) for i in range(200)],
        "src long, dst long, w long",
    )
    p = plan(personalized_pagerank_weighted_int(edges, seeds=[0, 1], n_iter=1))
    assert "CartesianProduct" not in p


def test_phash_int_narrow_map_keyed_twin_join(spark, sf_dir):
    """Integer-pHash fingerprints are an Arrow-batched narrow map
    (payload bytes never cross an exchange — only 8-byte hashes do) and
    the twin pairing is keyed on doc_id (a window over doc_id >> 1),
    never a cartesian."""
    p = plan(QS["multimodal_phash_int"](spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # the only Python in the plan is the Arrow decode/hash map
    assert "BatchEvalPython" not in p
    # payloads stay on the map side: the exchange inputs carry hash/int
    # columns only (no binary payload column crosses a shuffle)
    assert "payload" not in p.split("Exchange", 1)[1].split("+- ", 1)[0] if "Exchange" in p else True


def test_quality_lr_scoring_pass_keyed_broadcast_weights(spark, sf_dir):
    """One scoring pass of the trained integer LR: features aggregate
    map-side per (doc_id, bucket), the 65-row weight vector rides a
    broadcast join (never a shuffle on the corpus side for weights), and
    nothing drops to row-at-a-time Python."""
    p = plan(QS["text_quality_lr_int"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_quality_lr_multiclass_scoring_keyed_broadcast_weights(spark, sf_dir):
    """One joint scoring pass of the multi-class LR: the k·65-row weight
    table rides a broadcast join against the ≤65-row/doc feature frame
    (the corpus never fans out k ways), prediction is a doc-partitioned
    row_number window, and nothing drops to Python. The one crossJoin in
    the pipeline is the bounded k-row one-vs-rest label fan-out."""
    p = plan(QS["text_quality_lr_multiclass"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    _assert_no_single_partition_windows(p, "multiclass argmax went single-task")


def test_pipeline_quality_dedup_pack_stage_shapes(spark, sf_dir):
    """The composed pipeline keeps each stage's scale shape: LR scoring
    is a row-local expression (no Python, no corpus-side weight
    shuffle), dedup shuffles (fingerprint, id) only, packing windows are
    shard-partitioned (never Exchange SinglePartition), and no stage
    introduces a cartesian."""
    p = plan(QS["pipeline_quality_dedup_pack"](spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    _assert_no_single_partition_windows(p, "pack window went single-task")


def test_backoff_lm_keyed_joins_jvm_side(spark, sf_dir):
    """Stupid-backoff scoring shuffles doc trigrams on n-gram keys only
    (5 keyed equi-joins against vocabulary-bounded count tables; the two
    1-row N/V attachments ride broadcasts) and stays JVM-side."""
    p = plan(QS["text_backoff_lm_score"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_trigram_lm_keyed_joins_jvm_side(spark, sf_dir):
    """Trigram LM scoring joins shuffle on the trigram/context keys
    (equi-joins only — no cartesian beyond the 1-row V broadcast); the
    whole pipeline stays JVM-side. Same pin as the bigram twin."""
    p = plan(QS["text_trigram_lm_perplexity"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_weekly_bitmaps_group_partitioned_window(spark, sf_dir):
    """Weekly masks build in ONE map-side-combined groupBy(user, week);
    the cross-week LAG algebra windows over user partitions — never
    Exchange SinglePartition; no Python anywhere."""
    p = plan(QS["q_activity_bitmaps_weekly"](spark, sf_dir))
    _assert_no_single_partition_windows(p, "weekly mask window went single-task")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p


def _count_nodes(p: str, node: str) -> int:
    """Count physical-plan nodes by their details header '(k) Node' —
    formatted plans repeat each node in the tree and the details, so a
    plain substring count double-counts."""
    import re

    return len(re.findall(rf"^\s*\(\d+\) {node}\b", p, flags=re.M))


def _copurchase_edges(spark, n: int = 500):
    return (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .selectExpr("l_orderkey", "l_partkey")
        .distinct()
        .limit(n)
        .selectExpr("l_orderkey as src", "l_partkey as dst")
    )


def test_triangle_count_broadcast_wedge_no_smj(spark):
    """r11 pin (r10 verdict #4): broadcast-mode triangle_count's quadratic
    stage is sort-free — the wedge join is a broadcast hash join over a
    round-robin-repartitioned probe (exactly ONE RoundRobin exchange), the
    closing check a broadcast left-semi, and no SortMergeJoin anywhere. A
    Catalyst upgrade or careless edit reintroducing the 3x orientation
    derivation / SMJ wedge join turns this red."""
    from gearpump_spark.operators.graph import triangle_count

    p = plan(triangle_count(_copurchase_edges(spark), close_strategy="broadcast"))
    assert "SortMergeJoin" not in p
    assert p.count("RoundRobinPartitioning") == 1, "one pinned wedge probe exchange"
    assert "BroadcastHashJoin" in p


def test_triangle_count_merge_hub_gated_single_join(spark):
    """r11 pin (r10 verdict #1): merge-mode (cluster-scale) wedge join is
    frequency-gated salting expressed inside ONE shuffled-hash join — the
    per-center salt width _ns (n_salts for hubs, 1 for the tail) rides a
    broadcast left join against the hub set, the build side replicates via
    explode(sequence(0, _ns-1)), nothing is sorted, and there is NO Union
    in the wedge stage (a two-branch union de-fused the quadratic codegen
    pipeline — measured +39% at sf1)."""
    from gearpump_spark.operators.graph import triangle_count

    p = plan(triangle_count(_copurchase_edges(spark), close_strategy="merge"))
    assert "_salt" in p, "gated salt present"
    assert "sequence(0" in p, "build side replicates per-center (_ns-wide)"
    assert "Union" not in p, "single join — no branch union in the wedge stage"
    assert "SortMergeJoin" not in p
    assert _count_nodes(p, "ShuffledHashJoin") >= 1, "wedge join hash-joins"
    # the hub gate rides broadcast left joins, never a shuffle of the edges
    assert "BroadcastHashJoin" in p


def test_kcore_peel_joins_never_sort(spark):
    """r11 pin (r10 verdict #8): the k-core survivor semi-joins pick their
    strategy from the measured survivor count (broadcast under the
    ceiling, shuffled-hash above) — the returned plan must not sort the
    edge list. (The per-round restricts execute eagerly at construction
    under the same restrict() code path.)"""
    from gearpump_spark.operators.graph import kcore

    p = plan(kcore(_copurchase_edges(spark), k=2, n_rounds=2))
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p  # tiny survivor set broadcasts


def test_jpeg_refined_fused_single_arrow_stage(spark, sf_dir):
    """r11 pin (r10 verdict #5): the refined-progressive tier is ONE
    mapInPandas stage — payload bytes never cross the Arrow boundary. The
    logical codec seam is asserted separately (fused == two-stage). This
    counts plan nodes; tests/test_python_stages.py counts how often each
    node runs per action."""
    p = plan(QS["multimodal_jpeg_refined_real"](spark, sf_dir))
    assert _count_nodes(p, "MapInPandas") == 1


def test_jpeg_refined_fused_matches_two_stage(spark):
    """The fused stage composes the SAME batch seams the two-stage form
    runs (_synth_batches |> _row_batches); results must be
    identical row for row."""
    from gearpump_spark.operators.multimodal import (
        JpegDecoder,
        jpeg_refined_payload,
        pixel_stats,
        synthesize_jpeg_refined_pixel_stats,
        synthesize_payloads,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id"
    )
    fused = sorted(
        tuple(r) for r in synthesize_jpeg_refined_pixel_stats(docs).collect()
    )
    two_stage = sorted(
        tuple(r)
        for r in pixel_stats(
            synthesize_payloads(docs, jpeg_refined_payload), decoder=JpegDecoder()
        ).collect()
    )
    assert fused == two_stage and len(fused) == 500
