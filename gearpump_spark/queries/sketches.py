"""Sketch / approximate-query operators (beyond the reference surface —
SURVEY.md §2.F documents that 'distinct'/'approx distinct' don't exist in
gearpump; at 100 TB they're mandatory).

Oracle strategy (see operators/sketches.py): the Bloom filter uses the
seeded-md5 hash family so both engines build bit-identical filters —
exactly hash-checked. HLL and quantile sketches differ by engine, so those
queries emit exact anchor columns plus per-engine tolerance booleans that
must all be `true` on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gearpump_spark.datasets import table
from gearpump_spark.functions import hash as H
from gearpump_spark.functions import text as TX
from gearpump_spark.functions.exact import ln_dec, sql_ln_dec
from gearpump_spark.operators import sketches as SK
from gearpump_spark.queries import register

_BLOOM_WORDS = 64  # m = 2048 bits
_BLOOM_K = 3


@register(
    "sketch_bloom_membership",
    oracle=f"""
    WITH seeds AS (SELECT UNNEST(RANGE(0, {_BLOOM_K})) AS i),
    vals AS (SELECT DISTINCT o_custkey AS v FROM orders WHERE o_custkey IS NOT NULL),
    build AS (
        SELECT CAST(FLOOR(p / 32) AS BIGINT) AS word,
               BIT_OR(1::BIGINT << CAST(p % 32 AS INT)) AS bits
        FROM (SELECT {H.sql_hash15("v", "i")} % {_BLOOM_WORDS * 32} AS p
              FROM vals, seeds)
        GROUP BY 1),
    keys AS (SELECT DISTINCT c_custkey AS key FROM customer WHERE c_custkey IS NOT NULL),
    pos AS (
        SELECT key, CAST(FLOOR(p / 32) AS BIGINT) AS word,
               (1::BIGINT << CAST(p % 32 AS INT)) AS mask
        FROM (SELECT key, {H.sql_hash15("key", "i")} % {_BLOOM_WORDS * 32} AS p
              FROM keys, seeds)),
    probed AS (
        SELECT key, BOOL_AND((COALESCE(b.bits, 0) & mask) <> 0) AS bloom_maybe
        FROM pos LEFT JOIN build b USING (word) GROUP BY key)
    SELECT p.key AS custkey, p.bloom_maybe,
           COALESCE(m.is_member, FALSE) AS is_member
    FROM probed p
    LEFT JOIN (SELECT DISTINCT o_custkey AS key, TRUE AS is_member FROM orders) m
           USING (key)
    ORDER BY custkey
    """,
    desc="Bloom-filter semi-join reduction: build on orders keys, probe customers "
    "— bit-identical filters across engines (seeded-md5 family)",
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the filter is 64 rows → broadcast; the fact side never shuffles.

    No false negatives by construction (every is_member row has
    bloom_maybe=true); false positives are deterministic given the family.
    """
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    bloom = SK.bloom_build(orders, "o_custkey", _BLOOM_WORDS, _BLOOM_K)
    probed = SK.bloom_probe(bloom, customer, "c_custkey", _BLOOM_WORDS, _BLOOM_K)
    members = (
        orders.select(F.col("o_custkey").alias("key"))
        .distinct()
        .withColumn("is_member", F.lit(True))
    )
    return (
        probed.join(members, "key", "left")
        .select(
            F.col("key").alias("custkey"),
            "bloom_maybe",
            F.coalesce(F.col("is_member"), F.lit(False)).alias("is_member"),
        )
        .orderBy("custkey")
    )


@register(
    "sketch_hll_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_nd,
           ABS(approx_count_distinct(o_custkey) - COUNT(DISTINCT o_custkey))
               <= GREATEST(8, CAST(FLOOR(COUNT(DISTINCT o_custkey) * 0.25) AS BIGINT)) AS approx_ok
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    desc="HLL approximate distinct per group; each engine validates its own "
    "sketch against its own exact count (sketches differ: HLL++ vs DuckDB HLL)",
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: HLL is constant memory per group and mergeable map-side —
    the exact column here exists only to anchor the oracle check."""
    return SK.approx_distinct_by(
        table(spark, sf_dir, "orders"), "o_orderpriority", "o_custkey", rsd=0.05
    ).orderBy("o_orderpriority")


@register(
    "sketch_approx_quantiles",
    oracle="""
    SELECT l_returnflag,
           COUNT(l_extendedprice) AS n_rows,
           MIN(l_extendedprice) AS min_v,
           MAX(l_extendedprice) AS max_v,
           approx_quantile(l_extendedprice, 0.25)
               BETWEEN quantile_disc(l_extendedprice, 0.24)
                   AND quantile_disc(l_extendedprice, 0.26) AS ok_q25,
           approx_quantile(l_extendedprice, 0.50)
               BETWEEN quantile_disc(l_extendedprice, 0.49)
                   AND quantile_disc(l_extendedprice, 0.51) AS ok_q50,
           approx_quantile(l_extendedprice, 0.75)
               BETWEEN quantile_disc(l_extendedprice, 0.74)
                   AND quantile_disc(l_extendedprice, 0.76) AS ok_q75
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    desc="mergeable rank-sketch quantiles (GK vs t-digest) with per-engine "
    "rank-error validation at ±1% rank slack",
)
def sketch_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: percentile_approx is a mergeable sketch (rank err ≤ n/accuracy)
    — partial aggregation stays map-side; exact quantiles would need a
    global sort."""
    return SK.approx_quantiles_check(
        table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    ).orderBy("l_returnflag")


@register(
    "sketch_bloom_join",
    oracle="""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o.o_custkey) AS n_custs
    FROM orders o
    JOIN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') c
      ON o.o_custkey = c.c_custkey
    GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """,
    desc="Bloom-pre-filtered join == plain join (no false negatives): fact "
    "rows are dropped before the join shuffle by a broadcast bit array",
)
def sketch_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the bloom (4096 words) broadcasts; only candidate fact rows
    reach the join. The oracle is the PLAIN join — correctness of the
    reduction is exactly 'the filter changed nothing'."""
    orders = table(spark, sf_dir, "orders")
    dim = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    joined = SK.bloom_filtered_join(orders, dim, "o_custkey", "c_custkey")
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.count_distinct("o_custkey").alias("n_custs"),
        )
        .orderBy("o_orderstatus")
    )


_CMS_W, _CMS_D = 512, 3
_SQL_WORDS = f"""
    words AS (SELECT UNNEST({TX.sql_lower_tokens()}) AS word FROM documents)
"""


@register(
    "sketch_countmin_words",
    oracle=f"""
    WITH {_SQL_WORDS},
    cms AS (
        SELECT j, {H.sql_hash15("word", "(100 + j)")} % {_CMS_W} AS bucket,
               COUNT(*) AS cnt
        FROM words CROSS JOIN (SELECT UNNEST(RANGE(0, {_CMS_D})) AS j) js
        GROUP BY 1, 2),
    exact AS (SELECT word, COUNT(*) AS exact_n FROM words GROUP BY word),
    est AS (
        SELECT e.word, MIN(c.cnt) AS est_n
        FROM exact e
        CROSS JOIN (SELECT UNNEST(RANGE(0, {_CMS_D})) AS j) js
        JOIN cms c ON c.j = js.j
                  AND c.bucket = {H.sql_hash15("e.word", "(100 + js.j)")} % {_CMS_W}
        GROUP BY e.word)
    SELECT exact.word, CAST(exact.exact_n AS BIGINT) AS exact_n,
           CAST(est.est_n AS BIGINT) AS est_n,
           CAST(est.est_n - exact.exact_n AS BIGINT) AS overcount
    FROM exact JOIN est ON exact.word = est.word
    ORDER BY exact.word
    """,
    desc="count-min sketch: depth-3/width-512 seeded-md5 counters over the "
    "word stream; per-word min-estimate vs exact count — cells and "
    "estimates bit-identical cross-engine (exact oracle, no tolerance)",
)
def sketch_countmin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the sketch is one map-side-combined aggregation to ≤ d·w
    cells, mergeable across partitions/batches by cell-wise sum, then
    broadcast for probing — frequency estimates over 100 TB in constant
    sketch memory (operators/sketches.py countmin_build/estimate)."""
    docs = table(spark, sf_dir, "documents")
    words = docs.select(F.explode(TX.lower_tokens(F.col("text"))).alias("word"))
    cms = SK.countmin_build(words, "word", width=_CMS_W, depth=_CMS_D)
    exact = words.groupBy("word").agg(F.count("*").alias("exact_n"))
    est = SK.countmin_estimate(cms, words, "word", width=_CMS_W, depth=_CMS_D)
    return (
        exact.join(est, "word")
        .select(
            "word",
            F.col("exact_n").cast("long"),
            F.col("est_n").cast("long"),
            (F.col("est_n") - F.col("exact_n")).cast("long").alias("overcount"),
        )
        .orderBy("word")
    )


@register(
    "sketch_hll_registers",
    oracle=f"""
    WITH ev AS (
        SELECT DATE_TRUNC('hour', ts) AS window_start, user_id FROM events),
    regs AS (
        {SK.sql_hll_registers("ev", "user_id", ["window_start"], b=10, seed=0)})
    SELECT window_start,
           CAST(COUNT(*) AS BIGINT) AS n_regs,
           CAST(MAX(rho) AS BIGINT) AS max_rho,
           CAST(SUM((idx + 1) * rho) AS BIGINT) AS reg_checksum
    FROM regs GROUP BY window_start ORDER BY window_start
    """,
    desc="HyperLogLog REGISTER STATE per hourly window, bit-verified: "
    "the sketch itself (register indexes and leading-zero ranks over the "
    "seeded 60-bit md5 family) hash-matches DuckDB exactly — a stronger "
    "claim than sketch_hll_distinct's tolerance band around Spark's "
    "built-in estimate, and the batch mirror of streaming's hll_monoid "
    "(mergeable by max; union + re-aggregate)",
)
def sketch_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/sketches.py hll_register_table: one groupBy shuffle of
    (window, idx, partial-max) rows — at most windows * 1024 after the
    map-side combine, independent of corpus size."""
    ev = table(spark, sf_dir, "events")
    regs = SK.hll_register_table(
        ev.select(F.date_trunc("hour", "ts").alias("window_start"), "user_id"),
        "user_id",
        group_cols=["window_start"],
        b=10,
        seed=0,
    )
    return (
        regs.groupBy("window_start")
        .agg(
            F.count("*").cast("bigint").alias("n_regs"),
            F.max("rho").cast("bigint").alias("max_rho"),
            F.sum((F.col("idx") + 1) * F.col("rho")).cast("bigint").alias("reg_checksum"),
        )
        .orderBy("window_start")
    )


# b=6 keeps every scale factor's per-type cardinality above the 2.5*m
# small-range cutoff, where the raw estimator (operators/sketches.py
# hll_raw_estimate, no linear-counting correction) is within ~13%
# (1.04/sqrt(64)).


@register(
    "sketch_hll_union",
    oracle=f"""
    WITH regs AS (
        {SK.sql_hll_registers("events", "event_id", ["event_type"], b=6, seed=0)}),
    merged AS (
        SELECT event_type AS grp, idx, rho FROM regs
        UNION ALL
        SELECT 'ALL' AS grp, idx, MAX(rho) AS rho FROM regs GROUP BY idx)
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n_regs,
           CAST(SUM((idx + 1) * rho) AS BIGINT) AS reg_checksum,
           {SK.sql_hll_raw_estimate(6)} AS est_distinct
    FROM merged GROUP BY grp ORDER BY grp
    """,
    desc="HLL SET UNION by register max-merge: per-event-type sketches "
    "plus their union ('ALL') — the mergeability that makes sketches the "
    "100 TB answer (partial sketches combine associatively across "
    "partitions/days/datacenters without re-reading raw data). Register "
    "state bit-verified via checksum; the raw-HLL estimate is exact too: "
    "the harmonic denominator is computed as the INTEGER sum of "
    "2^(60-rho) (every term a power of two; absent registers count 2^60) "
    "so no float summation order exists to diverge",
)
def sketch_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/sketches.py hll_register_table + one max-merge groupBy:
    the corpus reduces map-side to <= |types| * 64 register rows; the
    union re-aggregates those rows, never the events. Estimates use
    decimal (exact) integer sums cast to double at the very end — one
    rounding, engine-independent."""
    ev = table(spark, sf_dir, "events")
    regs = SK.hll_register_table(
        ev.select("event_type", "event_id"), "event_id",
        group_cols=["event_type"], b=6, seed=0,
    )
    merged = regs.select(
        F.col("event_type").alias("grp"), "idx", "rho"
    ).unionByName(
        regs.groupBy("idx")
        .agg(F.max("rho").alias("rho"))
        .select(F.lit("ALL").alias("grp"), "idx", "rho")
    )
    return (
        merged.groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n_regs"),
            F.sum((F.col("idx") + 1) * F.col("rho")).cast("bigint").alias("reg_checksum"),
            SK.hll_raw_estimate(6).alias("est_distinct"),
        )
        .orderBy("grp")
    )


@register(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH w AS (
        SELECT DISTINCT UNNEST({TX.sql_lower_tokens()}) AS word FROM documents),
    h AS (SELECT {H.sql_hash15("word", 4)} AS h FROM w),
    kmin AS (SELECT h FROM h ORDER BY h LIMIT 64)
    SELECT CAST(64 AS BIGINT) AS k,
           MAX(h) AS kth_hash,
           63.0 * 1152921504606846976.0 / CAST(MAX(h) AS DOUBLE)
             AS est_distinct
    FROM kmin
    """,
    desc="KMV (k-minimum-values) distinct-count sketch over the corpus "
    "vocabulary: keep the 64 smallest seeded hashes of the distinct "
    "words, estimate distinct = 63*2^60/h_(64) — ONE IEEE division, so "
    "even the float estimate is engine-exact (the reproducible "
    "alternative to engine-native HLL); mergeable by unioning min-sets",
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/sketches.py kmv_distinct: distinct agg (map-side
    combined) then a global TakeOrdered of k values — never a full
    sort; O(k) memory per partition."""
    docs = table(spark, sf_dir, "documents")
    words = docs.select(F.explode(TX.lower_tokens(F.col("text"))).alias("word"))
    return SK.kmv_distinct(words, "word", k=64, seed=4)


@register(
    "sketch_theta_overlap",
    oracle=f"""
    WITH ae AS (
        SELECT DISTINCT CAST(user_id AS VARCHAR) || '|'
               || CAST(CAST(DATE_TRUNC('day', ts) AS DATE) AS VARCHAR) AS e
        FROM events WHERE event_type = 'view'),
    be AS (
        SELECT DISTINCT CAST(user_id AS VARCHAR) || '|'
               || CAST(CAST(DATE_TRUNC('day', ts) AS DATE) AS VARCHAR) AS e
        FROM events WHERE event_type = 'purchase'),
    ha AS (SELECT {H.sql_hash15("e", 4)} AS h FROM ae
           ORDER BY h LIMIT 64),
    hb AS (SELECT {H.sql_hash15("e", 4)} AS h FROM be
           ORDER BY h LIMIT 64),
    un AS (SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb)
           ORDER BY h LIMIT 64),
    th AS (SELECT MAX(h) AS theta FROM un),
    c AS (SELECT CAST(COUNT(*) AS BIGINT) AS c
          FROM ha JOIN hb USING (h), th WHERE h <= theta)
    SELECT CAST(64 AS BIGINT) AS k, theta, c,
           63.0 * 1152921504606846976.0 / CAST(theta AS DOUBLE) AS est_union,
           CAST(c AS DOUBLE) / 64.0 AS est_jaccard,
           (CAST(c AS DOUBLE) / 64.0)
             * (63.0 * 1152921504606846976.0 / CAST(theta AS DOUBLE))
             AS est_intersection
    FROM th, c
    """,
    desc="theta-sketch audience overlap: KMV intersection estimate of "
    "'view' vs 'purchase' active user-days — theta = kth min of the "
    "union min-set, c = shared hashes under theta; union/jaccard/"
    "intersection estimates are fixed-order exact divisions, so the "
    "whole sketch pipeline hash-matches the oracle (the measurement "
    "ad/retention systems run without materializing either set)",
)
def sketch_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/sketches.py kmv_overlap: two distinct-agg TakeOrdered
    sketches + a 64-row combine — the corpus is never joined."""
    ev = table(spark, sf_dir, "events")
    e = F.concat(
        F.col("user_id").cast("string"),
        F.lit("|"),
        F.to_date("ts").cast("string"),
    ).alias("e")
    a = ev.where(F.col("event_type") == "view").select(e)
    b = ev.where(F.col("event_type") == "purchase").select(e)
    return SK.kmv_overlap(a, b, "e", k=64, seed=4)


@register(
    "sketch_theta_anotb",
    oracle=f"""
    WITH ae AS (
        SELECT DISTINCT CAST(user_id AS VARCHAR) || '|'
               || CAST(CAST(DATE_TRUNC('day', ts) AS DATE) AS VARCHAR) AS e
        FROM events WHERE event_type = 'view'),
    be AS (
        SELECT DISTINCT CAST(user_id AS VARCHAR) || '|'
               || CAST(CAST(DATE_TRUNC('day', ts) AS DATE) AS VARCHAR) AS e
        FROM events WHERE event_type = 'purchase'),
    ha AS (SELECT {H.sql_hash15("e", 4)} AS h FROM ae
           ORDER BY h LIMIT 64),
    hb AS (SELECT {H.sql_hash15("e", 4)} AS h FROM be
           ORDER BY h LIMIT 64),
    th AS (SELECT LEAST((SELECT MAX(h) FROM ha),
                        (SELECT MAX(h) FROM hb)) AS theta),
    c AS (SELECT CAST(COUNT(*) AS BIGINT) AS c
          FROM ha, th
          WHERE h <= theta AND h NOT IN (SELECT h FROM hb))
    SELECT CAST(64 AS BIGINT) AS k, theta, c,
           CAST(c AS DOUBLE) * 1152921504606846976.0
             / CAST(theta AS DOUBLE) AS est_anotb
    FROM th, c
    """,
    desc="theta-sketch A-NOT-B set difference (DataSketches AnotB on the "
    "KMV form): estimate of 'view' user-days that never convert to a "
    "'purchase' — theta = min of the two kth-min hashes, c = A-min-set "
    "hashes under theta absent from B's min-set, |A\\B| ~ c*2^60/theta; "
    "one IEEE division, so the estimator hash-matches the oracle (the "
    "churn/retention counterpart of sketch_theta_overlap)",
)
def sketch_theta_anotb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/sketches.py kmv_anotb: two distinct-agg TakeOrdered
    sketches + a <=2k-row anti-join combine — the corpus is never
    joined, and the A\\B estimate never materializes either set."""
    ev = table(spark, sf_dir, "events")
    e = F.concat(
        F.col("user_id").cast("string"),
        F.lit("|"),
        F.to_date("ts").cast("string"),
    ).alias("e")
    a = ev.where(F.col("event_type") == "view").select(e)
    b = ev.where(F.col("event_type") == "purchase").select(e)
    return SK.kmv_anotb(a, b, "e", k=64, seed=4)


# ---------------------------------------------------------------------------
# r5 addition: AMS F2 (second frequency moment) sketch
# ---------------------------------------------------------------------------

_AMS_J = 16  # 16 estimators: 4 groups of 4, median-of-means
_AMS_SEED0 = 100


@register(
    "sketch_ams_f2",
    oracle=f"""
    WITH signs AS (
        SELECT o_custkey AS v,
               {", ".join(
                   "CASE WHEN " + H.sql_hash15("o_custkey", _AMS_SEED0 + j)
                   + f" % 2 = 0 THEN 1 ELSE -1 END AS s{j}"
                   for j in range(_AMS_J)
               )}
        FROM orders WHERE o_custkey IS NOT NULL),
    z AS (SELECT COUNT(*) AS n_rows,
                 {", ".join(f"SUM(s{j}) AS z{j}" for j in range(_AMS_J))}
          FROM signs),
    y AS (SELECT n_rows,
                 {", ".join(f"CAST(z{j} AS BIGINT) * z{j} AS y{j}" for j in range(_AMS_J))}
          FROM z),
    grouped AS (
        SELECT n_rows,
               [{", ".join(
                   " + ".join(f"y{g * 4 + i}" for i in range(4)) for g in range(4)
               )}] AS gs
        FROM y),
    est AS (
        SELECT n_rows,
               CAST(ls[2] + ls[3] AS DOUBLE) / 8.0 AS f2_estimate
        FROM (SELECT n_rows, LIST_SORT(gs) AS ls FROM grouped)),
    exact AS (
        SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact
        FROM (SELECT COUNT(*) AS c FROM orders
              WHERE o_custkey IS NOT NULL GROUP BY o_custkey))
    SELECT CAST(n_rows AS BIGINT) AS n_rows, f2_exact, f2_estimate,
           ROUND(ABS(f2_estimate - f2_exact) / f2_exact * 100, 2) AS rel_err_pct
    FROM est CROSS JOIN exact
    """,
    desc="AMS second-frequency-moment sketch (Alon-Matias-Szegedy 1996): "
    "16 {{-1,+1}}-signed row sums from the seeded-md5 family, squared, "
    "median-of-means over 4 groups of 4 — F2 (self-join size / skew "
    "indicator) in ONE streaming pass and 16 counters, vs the exact "
    "groupBy's per-key state; deterministic signs make even the estimate "
    "hash-checkable",
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One keyless aggregate over the scan (16 sign-sums fold map-side —
    no per-key state, no shuffle beyond the 1-row combine); the exact-F2
    comparison column is the one groupBy. The median of 4 group sums is
    (mid1+mid2)/8.0 — a power-of-two division, so the estimate column is
    exact on both engines."""
    od = table(spark, sf_dir, "orders").where(F.col("o_custkey").isNotNull())
    signs = [
        F.when(
            H.hash15(F.col("o_custkey"), _AMS_SEED0 + j) % 2 == 0, F.lit(1)
        )
        .otherwise(F.lit(-1))
        .alias(f"s{j}")
        for j in range(_AMS_J)
    ]
    z = od.select(*signs).agg(
        F.count("*").alias("n_rows"),
        *[F.sum(f"s{j}").alias(f"z{j}") for j in range(_AMS_J)],
    )
    y = z.select(
        "n_rows",
        *[
            (F.col(f"z{j}").cast("bigint") * F.col(f"z{j}")).alias(f"y{j}")
            for j in range(_AMS_J)
        ],
    )
    gs = F.array(
        *[
            sum(F.col(f"y{g * 4 + i}") for i in range(1, 4)) + F.col(f"y{g * 4}")
            for g in range(4)
        ]
    )
    est = y.select(
        "n_rows",
        (
            (
                F.element_at(F.array_sort(gs), 2) + F.element_at(F.array_sort(gs), 3)
            ).cast("double")
            / F.lit(8.0)
        ).alias("f2_estimate"),
    )
    exact = (
        od.groupBy("o_custkey")
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("f2_exact"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        F.col("n_rows").cast("bigint"),
        "f2_exact",
        "f2_estimate",
        F.round(
            F.abs(F.col("f2_estimate") - F.col("f2_exact"))
            / F.col("f2_exact")
            * 100,
            2,
        ).alias("rel_err_pct"),
    )


@register(
    "sketch_hll_sparse",
    oracle=f"""
    WITH w AS (
        SELECT source,
               UNNEST({TX.sql_lower_tokens()}) AS word
        FROM documents),
    regs AS (
        SELECT source,
               COUNT(DISTINCT {H.sql_hash15("word", 44)} % 4096)
                 AS v_regs,
               COUNT(DISTINCT word) AS exact_distinct
        FROM w GROUP BY source)
    SELECT source,
           CAST(v_regs AS BIGINT) AS v_regs,
           CAST(exact_distinct AS BIGINT) AS exact_distinct,
           CAST(4096 * {sql_ln_dec("4096.0 / (4096 - LEAST(v_regs, 4095))")} AS DOUBLE)
             AS lc_estimate
    FROM regs ORDER BY source
    """,
    desc="HLL++ sparse-mode estimator (Heule et al. 2013 §5.3): below "
    "~m/4 distinct values HLL++ skips dense registers entirely and "
    "linear-counts occupied sparse register indices — estimate = "
    "m*ln(m/(m-V)) with V = occupied registers at p=12 (m=4096). "
    "Register occupancy derives from the seeded-md5 family so BOTH "
    "engines build the identical sparse set — the estimate itself is "
    "hash-exact (unlike the tolerance-gated dense-HLL queries); "
    "rounded-LN decimal discipline; exact distinct rides along for the "
    "error audit",
)
def sketch_hll_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct words: one explode + one (source, idx)
    aggregate; at 100 TB the sparse set is a mergeable per-partition
    structure (partial COUNT DISTINCT over 4096-bounded indices) — the
    exact-distinct audit column is the expensive side, not the sketch."""
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(TX.lower_tokens(F.col("text"))).alias("word"),
    )
    regs = words.groupBy("source").agg(
        F.countDistinct(H.hash15(F.col("word"), 44) % 4096).alias("v_regs"),
        F.countDistinct("word").alias("exact_distinct"),
    )
    return regs.select(
        "source",
        F.col("v_regs").cast("bigint").alias("v_regs"),
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        (
            F.lit(4096)
            # LEAST(v_regs, 4095): at full saturation (v_regs == 4096, all
            # registers occupied — unreachable with current fixtures but
            # possible under a richer generator) the unclamped form divides
            # by zero, where Spark's decimal cast NULLs +inf while DuckDB
            # errors — a cross-engine divergence. Sparse mode is invalid at
            # saturation anyway (HLL++ switches to dense well before m),
            # so both engines clamp identically.
            * ln_dec(F.lit(4096.0) / (4096 - F.least(F.col("v_regs"), F.lit(4095))))
        )
        .cast("double")
        .alias("lc_estimate"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# r7 addition: HLL++ sparse/dense switchover audit
# ---------------------------------------------------------------------------

# Raw-HLL numerator alpha_m * m^2 * 2^40, injected as the SAME literal into
# both engines so the dense estimate is ONE IEEE division by an exact integer
# register sum (the 2^(40-rank) trick: every register term is an integer
# power of two, so the harmonic-mean denominator is an exact BIGINT — no
# float summation order anywhere). Ranks above 40 are clipped to 40, and
# the estimate is not rounded: this is not hll_raw_estimate's 2^60 form.
_HLL_SW_M = 512
_HLL_SW_NUM = SK.hll_alpha_num(_HLL_SW_M, 40)
# Linear counting, m * ln(m / (m - V)), with V clamped below m.
_SQL_SW_LC = (
    f"CAST({_HLL_SW_M} * "
    f"{sql_ln_dec(f'{_HLL_SW_M}.0 / ({_HLL_SW_M} - LEAST(a.v_regs, {_HLL_SW_M - 1}))')}"
    " AS DOUBLE)"
)


@register(
    "sketch_hll_switchover",
    oracle=f"""
    WITH base AS (
        SELECT event_type, DATE_TRUNC('week', ts) AS wk, user_id FROM events),
    r AS (
        {SK.sql_hll_registers("base", "user_id", ["event_type", "wk"], b=9, seed=45)}),
    agg AS (
        SELECT event_type, wk,
               CAST(COUNT(*) AS BIGINT) AS v_regs,
               CAST(SUM(CAST(1 AS BIGINT) << (40 - LEAST(rho, 40)))
                    AS BIGINT) AS s_occ
        FROM r GROUP BY event_type, wk),
    x AS (
        SELECT event_type, wk,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_nd
        FROM base GROUP BY event_type, wk)
    SELECT a.event_type, a.wk, a.v_regs, x.exact_nd,
           CASE WHEN a.v_regs * 4 < {_HLL_SW_M} THEN 'sparse'
                ELSE 'dense' END AS regime,
           {_SQL_SW_LC} AS lc_estimate,
           {_HLL_SW_NUM!r} / CAST(a.s_occ
               + ({_HLL_SW_M} - a.v_regs) * 1099511627776 AS DOUBLE)
             AS raw_estimate,
           CASE WHEN a.v_regs * 4 < {_HLL_SW_M}
                THEN {_SQL_SW_LC}
                ELSE {_HLL_SW_NUM!r} / CAST(a.s_occ
                    + ({_HLL_SW_M} - a.v_regs) * 1099511627776 AS DOUBLE)
           END AS chosen_estimate
    FROM agg a JOIN x ON x.event_type = a.event_type AND x.wk = a.wk
    ORDER BY a.event_type, a.wk
    """,
    desc="HLL++ sparse/dense switchover audit (Heule et al. 2013 §5.3): "
    "per (event_type, week) distinct users at p=9 (m=512) — occupied "
    "registers v, regime = sparse iff v < m/4, linear-counting estimate "
    "(rounded-LN decimal discipline), raw dense estimate via the "
    "integer-power-of-two register sum (every 2^-rank term is a BIGINT "
    "2^(40-rank), so the harmonic denominator is exact and the estimate "
    "is ONE IEEE division), and the regime-chosen estimate; fixture "
    "cardinalities (83-147 users/group) straddle the threshold so BOTH "
    "regimes appear; exact distinct rides along for the error audit",
)
def sketch_hll_switchover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group register table: one (group, idx) shuffle of bounded
    width (<= m rows per group survive the partial MAX), one group agg;
    at 100 TB the register table IS the mergeable sketch state — the
    exact-distinct audit column is the expensive side, not the sketch."""
    m = _HLL_SW_M
    ev = table(spark, sf_dir, "events")
    base = ev.select("event_type", F.date_trunc("week", "ts").alias("wk"), "user_id")
    regs = SK.hll_register_table(base, "user_id", ["event_type", "wk"], b=9, seed=45)
    agg = regs.groupBy("event_type", "wk").agg(
        F.count("*").cast("bigint").alias("v_regs"),
        F.sum(F.expr("shiftleft(1L, 40 - least(rho, 40))"))
        .cast("bigint")
        .alias("s_occ"),
    )
    exact = base.groupBy("event_type", "wk").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_nd")
    )
    sparse = F.col("v_regs") * 4 < m
    lc = (
        F.lit(m)
        * ln_dec(F.lit(float(m)) / (m - F.least(F.col("v_regs"), F.lit(m - 1))))
    ).cast("double")
    raw = F.lit(_HLL_SW_NUM) / (
        F.col("s_occ") + (m - F.col("v_regs")) * F.lit(1099511627776)
    ).cast("double")
    return (
        agg.join(exact, ["event_type", "wk"])
        .select(
            "event_type",
            "wk",
            "v_regs",
            "exact_nd",
            F.when(sparse, F.lit("sparse")).otherwise(F.lit("dense")).alias("regime"),
            lc.alias("lc_estimate"),
            raw.alias("raw_estimate"),
            F.when(sparse, lc).otherwise(raw).alias("chosen_estimate"),
        )
        .orderBy("event_type", "wk")
    )


@register(
    "sketch_hll_intersection",
    oracle=f"""
    WITH el AS MATERIALIZED (
        SELECT DISTINCT
               CASE WHEN event_type = 'view' THEN 'A' ELSE 'B' END AS grp,
               CAST(user_id AS VARCHAR) || '|'
                 || CAST(CAST(DATE_TRUNC('day', ts) AS DATE) AS VARCHAR) AS e
        FROM events WHERE event_type IN ('view', 'purchase')),
    regs AS (
        {SK.sql_hll_registers("el", "e", ["grp"], b=6, seed=0)}),
    merged AS (
        SELECT grp, idx, rho FROM regs
        UNION ALL
        SELECT 'U' AS grp, idx, MAX(rho) AS rho FROM regs GROUP BY idx),
    est AS (
        SELECT grp, {SK.sql_hll_raw_estimate(6)} AS est
        FROM merged GROUP BY grp),
    wide AS (
        SELECT MAX(CASE WHEN grp = 'A' THEN est END) AS est_a,
               MAX(CASE WHEN grp = 'B' THEN est END) AS est_b,
               MAX(CASE WHEN grp = 'U' THEN est END) AS est_union
        FROM est),
    xac AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection FROM
          (SELECT e FROM el WHERE grp = 'A'
           INTERSECT
           SELECT e FROM el WHERE grp = 'B'))
    SELECT est_a, est_b, est_union,
           ROUND(est_a + est_b - est_union, 4) AS est_intersection,
           exact_intersection,
           ROUND(0.39 * (est_a + est_b + est_union), 4) AS err_band,
           ABS(ROUND(est_a + est_b - est_union, 4) - exact_intersection)
             <= ROUND(0.39 * (est_a + est_b + est_union), 4) AS within_band
    FROM wide CROSS JOIN xac
    """,
    desc="HLL SET INTERSECTION by inclusion-exclusion (|A∩B| ≈ "
    "|A|+|B|-|A∪B| over register max-merges, Flajolet 2007 §5): "
    "view-day vs purchase-day audiences with the published error band "
    "3·1.04/√m·(|A|+|B|+|A∪B|) and an exact-intersection audit column — "
    "register sums are exact integers (powers of two), so even the float "
    "estimates are engine-identical (single division + one ROUND each)",
)
def sketch_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/sketches.py hll_register_table + one max-merge: the
    corpus reduces map-side to <= 3*64 register rows; the intersection
    estimate is driver-free arithmetic over the three (1-row) estimates.
    The exact audit column is the expensive side (one distinct-join) and
    exists only to anchor `within_band` — a production pipeline at
    100 TB drops it and keeps the O(m) sketch path."""
    ev = table(spark, sf_dir, "events")
    e = F.concat(
        F.col("user_id").cast("string"),
        F.lit("|"),
        F.to_date("ts").cast("string"),
    ).alias("e")
    tagged = ev.where(F.col("event_type").isin("view", "purchase")).select(
        F.when(F.col("event_type") == "view", F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("grp"),
        e,
    )
    # The <=128-row register table feeds TWO consumers (the per-group
    # branch and the max-merge union branch) and each re-ran the full
    # corpus HLL aggregation. Lazy localCheckpoint (r11 shared-relation
    # discipline): one corpus pass, both branches read <= 2*64 rows.
    regs = SK.hll_register_table(
        tagged, "e", group_cols=["grp"], b=6, seed=0
    ).localCheckpoint(eager=False)
    merged = regs.select("grp", "idx", "rho").unionByName(
        regs.groupBy("idx")
        .agg(F.max("rho").alias("rho"))
        .select(F.lit("U").alias("grp"), "idx", "rho")
    )
    est = merged.groupBy("grp").agg(SK.hll_raw_estimate(6).alias("est"))
    wide = est.groupBy().agg(
        F.max(F.when(F.col("grp") == "A", F.col("est"))).alias("est_a"),
        F.max(F.when(F.col("grp") == "B", F.col("est"))).alias("est_b"),
        F.max(F.when(F.col("grp") == "U", F.col("est"))).alias("est_union"),
    )
    a = tagged.where(F.col("grp") == "A").select("e")
    b = tagged.where(F.col("grp") == "B").select("e")
    xac = a.intersect(b).agg(
        F.count("*").cast("bigint").alias("exact_intersection")
    )
    est_int = F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 4)
    band = F.round(
        F.lit(0.39) * (F.col("est_a") + F.col("est_b") + F.col("est_union")), 4
    )
    return wide.crossJoin(xac).select(
        "est_a",
        "est_b",
        "est_union",
        est_int.alias("est_intersection"),
        "exact_intersection",
        band.alias("err_band"),
        (F.abs(est_int - F.col("exact_intersection")) <= band).alias("within_band"),
    )


# positions of the q-quantile estimates inside the sorted 256-row bottom-k
# sample: floor(q * (k-1)) + 1, precomputed in Python so neither engine
# does float floor arithmetic at plan time
_BK_K = 256
_BK_POS = {"q10": 26, "q25": 64, "q50": 128, "q75": 192, "q90": 230}
_BK_Q = {"q10": 0.1, "q25": 0.25, "q50": 0.5, "q75": 0.75, "q90": 0.9}


@register(
    "sketch_bottomk_rank_error",
    oracle=f"""
    WITH ids AS (
        SELECT l_extendedprice AS v,
               {H.sql_hash15("CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)", 7)} AS h
        FROM lineitem),
    samp AS (SELECT v, h FROM ids ORDER BY h, v LIMIT {_BK_K}),
    arr AS (SELECT LIST(v ORDER BY v, h) AS sv FROM samp),
    est AS (SELECT {", ".join(f"sv[{p}] AS est_{n}" for n, p in _BK_POS.items())}
            FROM arr),
    audit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               {", ".join(f"ROUND(CAST(SUM(CASE WHEN i.v <= e.est_{n} THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS tr_{n}" for n in _BK_POS)}
        FROM ids i CROSS JOIN est e)
    SELECT n_rows,
           {", ".join(f"e.est_{n}, ROUND(ABS(a.tr_{n} - {_BK_Q[n]}), 6) AS rank_err_{n}" for n in _BK_POS)},
           GREATEST({", ".join(f"ROUND(ABS(a.tr_{n} - {_BK_Q[n]}), 6)" for n in _BK_POS)})
             AS max_rank_err,
           GREATEST({", ".join(f"ROUND(ABS(a.tr_{n} - {_BK_Q[n]}), 6)" for n in _BK_POS)})
             <= 0.1 AS within_bound
    FROM audit a CROSS JOIN est e
    """,
    desc="bottom-k uniform-rank-sample quantile sketch with an EXACT rank-"
    "error audit: keep the k=256 rows with the smallest seeded row-id "
    "hashes (mergeable — bottom-k of a union is the bottom-k of the "
    "merged bottom-k sets, the property GK/t-digest only approximate), "
    "read the 5 sample order statistics as quantile estimates, and audit "
    "each against its exact rank in the full table; 3σ bound "
    "3·0.5/√256 ≈ 0.094 < 0.1 — every arithmetic step one rounding, "
    "engine-identical",
)
def sketch_bottomk_rank_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the sketch is a TakeOrdered of k rows on the seeded hash
    (per-partition heaps, no global sort — same plan family as the KMV
    sketch); the audit side is one full-scan aggregate against the
    broadcast 1-row estimate record. At 100 TB the audit column is the
    optional expensive half; the sketch half never shuffles the corpus."""
    li = table(spark, sf_dir, "lineitem")
    ids = li.select(
        F.col("l_extendedprice").alias("v"),
        H.hash15(
            F.concat_ws(
                "|",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            ),
            7,
        ).alias("h"),
    )
    samp = ids.orderBy("h", "v").limit(_BK_K)
    arr = samp.agg(
        F.sort_array(F.collect_list(F.struct("v", "h"))).alias("sv")
    )
    est = arr.select(
        *[F.col("sv")[p - 1]["v"].alias(f"est_{n}") for n, p in _BK_POS.items()]
    )
    audit = ids.crossJoin(F.broadcast(est)).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        *[
            F.round(
                F.sum(
                    F.when(F.col("v") <= F.col(f"est_{n}"), 1).otherwise(0)
                ).cast("double")
                / F.count("*"),
                6,
            ).alias(f"tr_{n}")
            for n in _BK_POS
        ],
    )
    errs = {
        n: F.round(F.abs(F.col(f"tr_{n}") - F.lit(q)), 6)
        for n, q in _BK_Q.items()
    }
    max_err = F.greatest(*errs.values())
    return audit.crossJoin(F.broadcast(est)).select(
        "n_rows",
        *[
            c
            for n in _BK_POS
            for c in (F.col(f"est_{n}"), errs[n].alias(f"rank_err_{n}"))
        ],
        max_err.alias("max_rank_err"),
        (max_err <= 0.1).alias("within_bound"),
    )
