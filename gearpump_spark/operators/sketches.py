"""Approximate / sketch operators: Bloom filter, HLL distinct, quantiles.

The reference has no sketches at all (SURVEY.md §2.F: "'distinct' and
'approx distinct' don't exist" — aggregation is always exact per-key hash
state). At 100 TB these are the difference between a feasible plan and an
infeasible one:

- **Bloom-filter semi-join reduction**: build a tiny bit array from the
  small side's join keys, broadcast it, and drop non-matching fact rows at
  the scan — the classic way to cut a 100 TB shuffle before it happens.
  Our build uses the seeded-md5 hash family (functions/hash.py, the
  family of operators/dedup.py), so the filter bits are *bit-identical*
  across engines and the whole operator is exactly DuckDB-oracle-checkable
  (no false negatives by construction; false positives are deterministic
  given the hash family).
- **HLL approximate distinct** (`approx_count_distinct`): constant memory
  per group vs O(distinct) for exact — mergeable across partitions, so the
  partial-aggregation tree stays map-side.
- **Approximate quantiles** (`percentile_approx`, KLL/GK-style): mergeable
  rank sketch with a hard rank-error bound of n/accuracy.

Cross-engine check strategy: the Bloom filter is exact (same bits both
engines). HLL and quantile sketches differ by engine (HLL++ vs DuckDB HLL,
GK vs t-digest), so their queries emit *tolerance booleans* — each engine
checks its own approximation against its own exact computation with the
same bound; both sides must print `true` plus exact anchor columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gearpump_spark.functions import hash as H

# 32-bit words stored in BIGINT: DuckDB's BIGINT << overflows at bit 63,
# and 32-bit masks keep every intermediate positive on both engines.
WORD_BITS = 32


def bloom_build(df: DataFrame, col: str, num_words: int = 64, num_hashes: int = 3) -> DataFrame:
    """Build a Bloom filter over df[col] as (word: bigint, bits: bigint) rows.

    m = num_words*32 bits; k = num_hashes seeded-md5 hash functions. The
    result is tiny (num_words rows) — broadcast it to probe a fact table.
    Build cost: one shuffle of (word, mask) pairs with map-side bit_or.
    """
    m = num_words * WORD_BITS
    vals = df.select(F.col(col).alias("v")).where(F.col("v").isNotNull())
    rows = vals.select(
        F.explode(F.array(*[H.hash15(F.col("v"), i) % m for i in range(num_hashes)])).alias("p")
    )
    words = rows.select(
        F.floor(F.col("p") / WORD_BITS).cast("long").alias("word"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {WORD_BITS} AS INT))").alias("mask"),
    )
    return words.groupBy("word").agg(F.bit_or("mask").alias("bits"))


def bloom_probe(
    bloom: DataFrame,
    probe: DataFrame,
    col: str,
    num_words: int = 64,
    num_hashes: int = 3,
) -> DataFrame:
    """Probe: per distinct probe[col], `bloom_maybe` = all k bits set.

    The bloom side is broadcast (num_words rows) — at 100 TB the probe scan
    filters in place with no shuffle of the fact table. No false negatives;
    false-positive rate ≈ (1 - e^{-kn/m})^k, deterministic given the family.
    """
    m = num_words * WORD_BITS
    keys = probe.select(F.col(col).alias("key")).where(F.col("key").isNotNull()).distinct()
    rows = keys.select(
        "key",
        F.explode(F.array(*[H.hash15(F.col("key"), i) % m for i in range(num_hashes)])).alias("p"),
    )
    pos = rows.select(
        "key",
        F.floor(F.col("p") / WORD_BITS).cast("long").alias("word"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {WORD_BITS} AS INT))").alias("mask"),
    )
    joined = pos.join(F.broadcast(bloom), "word", "left")
    hit = (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask")) != 0).alias("hit")
    return joined.select("key", hit).groupBy("key").agg(F.bool_and("hit").alias("bloom_maybe"))


def approx_distinct_by(
    df: DataFrame, group_col: str, value_col: str, rsd: float = 0.05
) -> DataFrame:
    """Per-group exact distinct count + HLL estimate + tolerance verdict.

    `exact_nd` anchors the cross-engine hash; `approx_ok` asserts the HLL
    estimate is within max(8, 25% ) of exact — loose vs the ~1.04/√m rsd
    so the check never flakes, tight enough to catch a broken sketch.
    """
    exact = F.count_distinct(F.col(value_col)).alias("exact_nd")
    approx = F.approx_count_distinct(value_col, rsd)
    # floor, matching the oracle's CAST(FLOOR(..) AS BIGINT) — a plain
    # BIGINT cast rounds in DuckDB but truncates in Spark
    tol = F.greatest(F.lit(8), F.floor(F.col("exact_nd") * 0.25).cast("long"))
    return (
        df.groupBy(group_col)
        .agg(exact, approx.alias("_approx"))
        .select(
            group_col,
            "exact_nd",
            (F.abs(F.col("_approx") - F.col("exact_nd")) <= tol).alias("approx_ok"),
        )
    )


def approx_quantiles_check(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    accuracy: int = 10000,
    rank_slack: float = 0.01,
) -> DataFrame:
    """Per-group approximate quantiles validated against exact rank bounds.

    percentile_approx guarantees rank error ≤ n/accuracy; we check each
    estimate lies between tight bracketing quantiles at p ± rank_slack
    (bounds computed at 10× the accuracy, so their own error is negligible
    vs the slack). Exact anchors: row count, min, max.
    """
    v = F.col(value_col)
    aggs = [
        F.count(v).alias("n_rows"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
    ]
    for p in probs:
        lo, hi = max(0.0, p - rank_slack), min(1.0, p + rank_slack)
        aggs += [
            F.percentile_approx(v, p, accuracy).alias(f"_q{int(p * 100)}"),
            F.percentile_approx(v, lo, accuracy * 10).alias(f"_lo{int(p * 100)}"),
            F.percentile_approx(v, hi, accuracy * 10).alias(f"_hi{int(p * 100)}"),
        ]
    g = df.groupBy(group_col).agg(*aggs)
    out = [F.col(group_col), F.col("n_rows"), F.col("min_v"), F.col("max_v")]
    for p in probs:
        t = int(p * 100)
        out.append(
            F.col(f"_q{t}").between(F.col(f"_lo{t}"), F.col(f"_hi{t}")).alias(f"ok_q{t}")
        )
    return g.select(*out)


def bloom_filtered_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    num_words: int = 4096,
    num_hashes: int = 3,
    how: str = "inner",
) -> DataFrame:
    """Join with a Bloom pre-filter on the fact side.

    Builds the filter from the dim side's keys, broadcasts it, and drops
    non-candidate fact rows BEFORE the join shuffle — at 100 TB this is
    the difference between shuffling the whole fact table and shuffling
    only rows that can match. No false negatives, so the join result is
    exactly the plain join's; false positives merely ride along to the
    join and drop there.

    Only join types that ignore unmatched FACT rows are valid: the
    pre-filter removes them, so left/full outer or anti joins (whose
    results are built from exactly those rows) would be silently wrong.
    """
    if how not in ("inner", "left_semi", "semi", "cross"):
        raise ValueError(
            f"bloom_filtered_join supports inner/semi joins, not {how!r}: "
            "the pre-filter drops unmatched fact rows, which outer/anti "
            "semantics depend on"
        )
    bloom = bloom_build(dim, dim_key, num_words, num_hashes)
    probed = bloom_probe(bloom, fact.select(fact_key), fact_key, num_words, num_hashes)
    candidates = probed.where(F.col("bloom_maybe")).select(F.col("key").alias(fact_key))
    filtered = fact.join(F.broadcast(candidates), fact_key, "left_semi")
    return filtered.join(dim, filtered[fact_key] == dim[dim_key], how)


def countmin_build(
    df: DataFrame, col: str, width: int = 512, depth: int = 3, seed_base: int = 100
) -> DataFrame:
    """Count-min sketch over df[col] as (j, bucket, cnt) rows — the
    mergeable frequency sketch (Cormode & Muthukrishnan 2005): depth
    seeded-md5 hash rows of width counters; estimate = min over rows.

    Scale: ONE aggregation of depth×rows exploded cells with map-side
    combine down to ≤ depth·width cells — constant memory per partition,
    mergeable across partitions/batches by cell-wise sum (the same monoid
    discipline as the reference's state, state/api/Monoid.scala:17-24).
    The finished sketch is ≤ depth·width rows — broadcastable.

    Cross-engine: the hash family is seeded md5 (H.sql_hash15), so
    sketch cells AND estimates are bit-identical in DuckDB — the oracle
    checks exact equality, not a tolerance.
    """
    vals = df.select(F.col(col).alias("v")).where(F.col("v").isNotNull())
    cells = vals.select(
        F.posexplode(
            F.array(*[(H.hash15(F.col("v"), seed_base + j) % width) for j in range(depth)])
        ).alias("j", "bucket")
    )
    return cells.groupBy("j", "bucket").agg(F.count("*").alias("cnt"))


def countmin_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    col: str,
    width: int = 512,
    depth: int = 3,
    seed_base: int = 100,
) -> DataFrame:
    """Point-frequency estimates for probes[col]: est = min_j cnt[j][h_j(v)].

    Guaranteed >= true count (no false negatives); overcount bounded by
    collisions. The sketch side broadcasts (≤ depth·width rows); probes
    shuffle only on the final per-value min."""
    pr = probes.select(F.col(col).alias("v")).distinct()
    hashed = pr.select(
        "v",
        F.posexplode(
            F.array(*[(H.hash15(F.col("v"), seed_base + j) % width) for j in range(depth)])
        ).alias("j", "bucket"),
    )
    joined = hashed.join(F.broadcast(sketch), ["j", "bucket"], "left")
    return (
        joined.groupBy("v")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_n"))
        .select(F.col("v").alias(col), "est_n")
    )


def hll_register_table(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    b: int = 10,
    seed: int = 0,
) -> DataFrame:
    """HyperLogLog REGISTERS as a DataFrame — one row per (group, idx)
    with the max rank (rho), built entirely from JVM expressions on the
    engine's seeded 60-bit md5 hash family:

        idx = h & (2^b - 1)          (register index)
        w   = h >> b                 (remaining 60-b bits)
        rho = (60 - b) - LENGTH(bin(w)) + 1   (leading-zero rank; w = 0
              -> 61 - b, the all-zero max — bin() prints '0', length 1,
              so the CASE keeps both engines identical)

    Streaming's hll_monoid builds the same registers at seed 0 with the
    Python twin H.py_hash15, so a streamed window's estimate equals the
    estimate from this table over the same rows. The DuckDB twin is
    `sql_hll_registers`. The 15-hex-digit family
    keeps every step bit-reproducible in DuckDB (H.sql_hash15 mirror), so
    the SKETCH STATE itself is oracle-checkable — not just a tolerance
    band around the estimate (contrast approx_distinct_by). Registers are
    mergeable by max: union two tables and re-aggregate.

    Scale: one groupBy shuffle carrying (group, idx, partial-max) — the
    corpus reduces map-side to at most |groups| * 2^b rows.
    """
    gcols = group_cols or []
    m = 1 << b
    h = H.hash15(F.col(value_col), seed)
    idx = (h % F.lit(m)).alias("idx")  # h >= 0: % == & (m-1)
    w = F.shiftright(h, b)
    rho = (
        F.when(w > 0, F.lit(60 - b + 1) - F.length(F.bin(w)))
        .otherwise(F.lit(60 - b + 1))
        .alias("rho")
    )
    return (
        df.select(*gcols, idx, rho)
        .groupBy(*gcols, "idx")
        .agg(F.max("rho").alias("rho"))
    )


def sql_hll_registers(
    rel: str,
    value_col: str,
    group_cols: list[str] | None = None,
    b: int = 10,
    seed: int = 0,
) -> str:
    """DuckDB twin of `hll_register_table`: a SELECT over the relation
    ``rel`` with one row per (group, idx) and its max rank ``rho``."""
    g = "".join(f"{c}, " for c in group_cols or [])
    h = H.sql_hash15(f"CAST({value_col} AS VARCHAR)", seed)
    top = 60 - b + 1
    return f"""SELECT {g}h % {1 << b} AS idx,
               MAX(CASE WHEN (h >> {b}) > 0
                        THEN {top} - LENGTH(BIN(h >> {b}))
                        ELSE {top} END) AS rho
        FROM (SELECT {g}{h} AS h FROM {rel}) GROUP BY {g}idx"""


def hll_alpha_num(m: int, shift: int) -> float:
    """The raw-HLL numerator alpha_m * m^2 * 2^shift, with the register
    terms scaled by 2^shift so that their harmonic sum is an exact
    integer. Both engines read the same double (the SQL twins render its
    repr)."""
    return 0.7213 / (1.0 + 1.079 / m) * m * m * float(1 << shift)


def hll_raw_estimate(b: int) -> Column:
    """Raw HLL estimate of a group of register rows (idx, rho) of
    ``2^b`` registers, rounded to 4 places: alpha_m m^2 / sum(2^-rho)
    with an absent register counting 2^0. Every term 2^(60 - rho) is an
    integer, so the denominator is an exact decimal sum and the estimate
    is one IEEE division in either engine. No linear-counting
    correction. An aggregate expression; the DuckDB twin is
    `sql_hll_raw_estimate`."""
    m = 1 << b
    term = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(60 - rho AS INT))")
    inv_sum = F.sum(term.cast("decimal(20,0)")) + (F.lit(m) - F.count("*")).cast(
        "decimal(38,0)"
    ) * F.lit(1 << 60).cast("decimal(38,0)")
    return F.round(F.lit(hll_alpha_num(m, 60)) / inv_sum.cast("double"), 4)


def sql_hll_raw_estimate(b: int) -> str:
    """DuckDB twin of `hll_raw_estimate`."""
    m = 1 << b
    return f"""ROUND({hll_alpha_num(m, 60)!r} / CAST(
                   CAST(SUM(CAST(1 AS BIGINT) << CAST(60 - rho AS INT)) AS HUGEINT)
                   + CAST({m} - COUNT(*) AS HUGEINT)
                     * CAST(CAST(1 AS BIGINT) << 60 AS HUGEINT) AS DOUBLE), 4)"""


def kmv_minset(df: DataFrame, col: str, k: int, seed: int) -> DataFrame:
    """The KMV min-set: the k smallest distinct `hash15` values of
    df[col], as one column ``h``. A global TakeOrdered (per-partition
    top-k + driver merge of k values), never a global sort."""
    return (
        df.select(F.col(col).alias("_v"))
        .distinct()
        .select(H.hash15(F.col("_v"), seed).alias("h"))
        .orderBy("h")
        .limit(k)
    )


def kmv_distinct(
    df: DataFrame, col: str, k: int = 64, seed: int = 4
) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch (Bar-Yossef 2002;
    Beyer 2007 unbiased form): hash every distinct element uniformly into
    [0, 2^60), keep the k smallest hashes, estimate
    distinct ≈ (k-1) · 2^60 / h_(k) — one IEEE division, so even the
    float estimate is engine-exact and DuckDB-oracle-checkable
    (unlike engine-native HLL, whose register layouts differ).

    Returns ONE row: (k, kth_hash, est_distinct). Mergeable: the union of
    two sketches is the k smallest of the combined min-sets — the same
    property HLL offers, with an exactly reproducible estimator.

    Scale: the k-min set is a global TakeOrdered (per-partition top-k +
    driver merge of k values — never a global sort); everything before it
    is the distinct agg, map-side combined. Memory is O(k) per partition.
    """
    return kmv_minset(df, col, k, seed).agg(
        F.lit(k).cast("bigint").alias("k"),
        F.max("h").alias("kth_hash"),
        (
            F.lit(float(k - 1)) * F.lit(float(1 << 60)) / F.max("h").cast("double")
        ).alias("est_distinct"),
    )


def kmv_anotb(
    a: DataFrame, b: DataFrame, col: str, k: int = 64, seed: int = 4
) -> DataFrame:
    """Theta-sketch A-NOT-B (set-difference estimate) from two KMV
    sketches (the Apache DataSketches AnotB operation re-derived on the
    KMV form): θ = min(θ_A, θ_B) where θ_X is the kth smallest distinct-
    element hash of X; the difference sketch keeps A's min-set hashes ≤ θ
    that do NOT appear in B's min-set; |A∖B| ≈ c·2^60/θ (each surviving
    hash represents 2^60/θ elements — inverse-probability scaling). Every
    arithmetic step is deterministic (integer comparisons + ONE IEEE
    division), so the estimator is DuckDB-oracle-checkable like
    kmv_overlap above.

    Returns ONE row: (k, theta, c, est_anotb). Scale: each sketch is a
    distinct agg + global TakeOrdered of k values; the A-NOT-B combine
    runs on ≤ 2k rows — the retention/churn estimator (what fraction of
    audience A never appears in B) without materializing either set.
    """
    # Each 64-row min-set feeds multiple legs (theta — itself consumed by
    # the combine AND the output row — plus the anti-join), and every leg
    # otherwise re-runs the full distinct scan + TakeOrdered over the
    # corpus. Lazy localCheckpoint (r11 shared-relation discipline): each
    # side's sketch is computed once and every combine leg reads k rows.
    ha, hb = (
        kmv_minset(a, col, k, seed).localCheckpoint(eager=False),
        kmv_minset(b, col, k, seed).localCheckpoint(eager=False),
    )
    theta_df = (
        ha.agg(F.max("h").alias("ta"))
        .crossJoin(hb.agg(F.max("h").alias("tb")))
        .select(F.least("ta", "tb").alias("theta"))
    )
    c_df = (
        ha.join(hb, "h", "left_anti")  # k-row anti-join: in A's min-set only
        .join(F.broadcast(theta_df))
        .where(F.col("h") <= F.col("theta"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    est = (
        F.col("c").cast("double")
        * F.lit(float(1 << 60))
        / F.col("theta").cast("double")
    )
    return theta_df.crossJoin(F.broadcast(c_df)).select(
        F.lit(k).cast("bigint").alias("k"),
        "theta",
        "c",
        est.alias("est_anotb"),
    )


def kmv_overlap(
    a: DataFrame, b: DataFrame, col: str, k: int = 64, seed: int = 4
) -> DataFrame:
    """Theta-sketch-style set-intersection estimate from two KMV
    sketches (Dasgupta 2016): take each side's k smallest distinct-element
    hashes, θ = the kth smallest of their UNION, and count the hashes ≤ θ
    present in BOTH min-sets (c). Then union ≈ (k−1)·2^60/θ,
    jaccard ≈ c/k, intersection ≈ (c/k)·union — the audience-overlap
    estimator that never materializes either set, with every arithmetic
    step deterministic (divisions of exact integers, fixed order), so
    the whole sketch pipeline is DuckDB-oracle-checkable.

    Returns ONE row: (k, theta, c, est_union, est_jaccard,
    est_intersection). Scale: each sketch is a distinct agg + global
    TakeOrdered of k values; the combine step runs on ≤ 2k rows.
    """
    # Same shared-relation discipline as kmv_anotb: each 64-row min-set
    # feeds the union-theta leg AND the intersection join (and theta is
    # consumed twice), so without materialization every leg re-runs the
    # full distinct scan + TakeOrdered over its corpus side.
    ha, hb = (
        kmv_minset(a, col, k, seed).localCheckpoint(eager=False),
        kmv_minset(b, col, k, seed).localCheckpoint(eager=False),
    )
    theta_df = (
        ha.unionByName(hb).distinct().orderBy("h").limit(k)
        .agg(F.max("h").alias("theta"))
    )
    both = ha.join(hb, "h")  # k-row join: hashes in BOTH min-sets
    c_df = both.join(F.broadcast(theta_df)).where(
        F.col("h") <= F.col("theta")
    ).agg(F.count("*").cast("long").alias("c"))
    est_union = (
        F.lit(float(k - 1)) * F.lit(float(1 << 60)) / F.col("theta").cast("double")
    )
    jac = F.col("c").cast("double") / F.lit(float(k))
    return (
        theta_df.crossJoin(F.broadcast(c_df))
        .select(
            F.lit(k).cast("bigint").alias("k"),
            "theta",
            "c",
            est_union.alias("est_union"),
            jac.alias("est_jaccard"),
            (jac * est_union).alias("est_intersection"),
        )
    )
