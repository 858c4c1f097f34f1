"""Deterministic sampling / splitting operators for training-data pipelines.

The reference has no sampling at all (values are opaque; any sampling would
be user Task code). For LLM-data work these are first-class: train/test
splits, per-source mixing rates, and down-sampling all have to be
**deterministic and key-stable** at 100 TB — re-running the pipeline, or
running it on a different engine, must keep every document on the same side
of every split. Random() can't do that; a content-keyed hash can.

All operators hash with the seeded-md5 family (functions/hash.py):
bucket = hex15(md5(seed|key)) % 10000 basis points. This is:

- **shuffle-free**: a scan-local filter — Catalyst pushes it into the scan
  stage; sampling 1% of 100 TB reads the column but moves nothing.
- **reproducible**: same key → same bucket, across runs, partitionings,
  and engines (DuckDB evaluates the identical expression — exact oracles).
- **split-safe**: disjoint rate ranges give disjoint, leakage-free splits.

`bottom_k_sample` is the distributed fixed-size uniform sample: global
top-k by hash order, which Spark executes as per-partition TakeOrdered +
driver merge of k — never a global sort.

Determinism caveat: ordering-based samplers (`bottom_k_sample`,
`k_per_group_sample`, `pack_sequences`) tie-break the hash with key_col,
so they are fully deterministic only when key_col is unique per row —
duplicate keys carry identical hashes AND identical tiebreaks, leaving
which physical duplicate wins partition-order-dependent. Use a unique id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gearpump_spark.functions import hash as H

BASIS = 10_000  # rates are expressed in basis points (1 bp = 0.01%)


def hash_bucket(key: Column, seed: int = 0) -> Column:
    """Deterministic bucket in [0, 10000): hex15(md5(seed|key)) % 10000.
    Its DuckDB twin is `sql_hash_bucket`."""
    return (H.hash15(key, seed) % BASIS).alias("bucket")


def sql_hash_bucket(key: str = "doc_id", seed: int | str = 0) -> str:
    """DuckDB twin of `hash_bucket` over a SQL key expression."""
    return f"{H.sql_hash15(key, seed)} % {BASIS}"


def hash_sample(df: DataFrame, key_col: str, rate_bp: int, seed: int = 0) -> DataFrame:
    """Keep rows whose key hashes into the first `rate_bp` basis points.

    rate_bp=1000 → 10% expected sample, exact membership decided per key.
    """
    return df.where(hash_bucket(F.col(key_col), seed) < rate_bp)


def train_test_split(
    df: DataFrame, key_col: str, test_bp: int = 1000, seed: int = 0
) -> DataFrame:
    """Add a `split` column: 'test' for the first test_bp basis points,
    'train' otherwise. Key-stable → no leakage across reruns/engines."""
    split = F.when(hash_bucket(F.col(key_col), seed) < test_bp, F.lit("test")).otherwise(
        F.lit("train")
    )
    return df.withColumn("split", split)


def stratified_hash_sample(
    df: DataFrame, strata_col: str, key_col: str, rates_bp: dict[str, int], seed: int = 0
) -> DataFrame:
    """Per-stratum sampling rates (data mixing): keep a row iff its key
    bucket < the rate for its stratum. Unlisted strata are dropped — so an
    empty rates dict selects nothing (not an error: a computed mixing
    config may legitimately be empty).

    This is the "mix sources at fixed proportions" primitive: one scan, one
    scan-local predicate, no shuffle, deterministic membership.
    """
    if not rates_bp:
        return df.where(F.lit(False))
    rate = None
    for stratum, bp in rates_bp.items():
        cond = F.col(strata_col) == stratum
        rate = F.when(cond, bp) if rate is None else rate.when(cond, bp)
    rate = rate.otherwise(F.lit(-1))  # unlisted strata: bucket < -1 never holds
    return df.where(hash_bucket(F.col(key_col), seed) < rate)


def temperature_mix(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight_col: str,
    alpha: float = 0.5,
    seed: int = 0,
) -> DataFrame:
    """Temperature-based source mixing: per-group sampling rates computed
    FROM the data so that the kept mass per group is proportional to
    (group weight)^alpha — the standard multilingual/multi-source rebalance
    (alpha<1 flattens the distribution; alpha=1 keeps natural proportions).

    The smallest group is kept in full; a group with total weight w is
    sampled at rate (w_min / w)^(1-alpha), applied as a deterministic
    hash-bucket predicate on key_col.

    Cross-engine exactness: at the default alpha=0.5 the rate is
    sqrt(w_min/w) — IEEE sqrt and division are correctly rounded, so the
    floor'd basis-point rate is bit-identical in Spark and DuckDB and the
    sample membership has an exact oracle. Other alphas go through pow(),
    which is NOT guaranteed correctly rounded across engines; they work
    but their oracles are only almost-surely exact.

    Scale: one tiny per-group aggregate (map-side combined), broadcast back
    as a rate table; the filter itself is scan-local. The corpus never
    shuffles.
    """
    totals = df.groupBy(group_col).agg(F.sum(weight_col).cast("double").alias("_w"))
    wmin = totals.agg(F.min("_w").alias("_wmin"))
    ratio = F.col("_wmin") / F.col("_w")
    frac = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, 1.0 - alpha)
    rates = (
        totals.crossJoin(F.broadcast(wmin))
        .select(group_col, F.floor(F.lit(float(BASIS)) * frac).cast("long").alias("_rate_bp"))
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .where(hash_bucket(F.col(key_col), seed) < F.col("_rate_bp"))
        .drop("_rate_bp")
    )


def bottom_k_sample(df: DataFrame, key_col: str, k: int, seed: int = 0) -> DataFrame:
    """Fixed-size uniform sample: the k smallest md5(seed|key) values
    (key_col as tiebreak — see the module caveat on duplicate keys).

    Equivalent to a reservoir sample but deterministic and mergeable:
    bottom-k by hash is a coordinated sample — the sample of a union is
    computable from per-part bottom-k's, and Spark plans the limit as
    TakeOrderedAndProject (per-partition top-k, no global sort).
    """
    h = H.seeded_md5(F.col(key_col), seed)
    return df.withColumn("_h", h).orderBy("_h", key_col).limit(k).drop("_h")


def k_per_group_sample(
    df: DataFrame, group_col: str, key_col: str, k: int, seed: int = 0
) -> DataFrame:
    """Fixed-size deterministic sample per group: the k smallest
    md5(seed|key) within each group (per-class balanced subsets; key_col
    tiebreak — see the module caveat on duplicate keys).

    One shuffle on group_col; rank runs inside each partition. At scale
    prefer this over per-group LIMIT loops — it's a single window pass.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(group_col).orderBy(H.seeded_md5(F.col(key_col), seed), key_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def epochs_sample(df: DataFrame, key_col: str, epochs_bp: int, seed: int = 0) -> DataFrame:
    """Sample at a fractional epoch rate: epochs_bp=25000 = 2.5 epochs →
    every row appears twice (copy 0,1) plus a deterministic 50%
    hash-sample third copy. Rates below 1.0 epoch work too: 5000 = plain
    50% sample (rows keep copy 0 or vanish).

    Adds a `copy` column (0-based repeat index) so downstream shuffles
    spread duplicates. Scan-local: explode(sequence) + one hash predicate,
    no shuffle, exact membership both engines.
    """
    whole = epochs_bp // BASIS
    frac = epochs_bp % BASIS
    n_copies = F.when(
        hash_bucket(F.col(key_col), seed) < frac, whole + 1
    ).otherwise(whole)
    # explode() drops rows whose array is empty, which is exactly the
    # n_copies=0 case; sequence(0, -1) would instead yield a DESCENDING
    # [0, -1] and wrongly keep a copy.
    copies = F.when(
        n_copies >= 1, F.sequence(F.lit(0), n_copies - 1)
    ).otherwise(F.array().cast("array<int>"))
    return df.withColumn("copy", F.explode(copies))


def pack_sequences(
    df: DataFrame,
    key_col: str,
    size_col: str,
    budget: int,
    seed: int = 0,
    shards: int | None = None,
) -> DataFrame:
    """Deterministic contiguous sequence packing: order docs by key hash,
    then assign bin = floor(running_size_before_doc / budget).

    The streaming-fill analog of first-fit packing (each bin holds ~budget
    tokens; a doc may straddle a boundary — at train time that's where the
    sequence is cut).

    shards=None packs ONE contiguous global order — r6: via
    `global_positions` (range-partitioned distributed running sum), so
    even the single-sequence form never single-task-sorts. With
    shards=N, each doc is hash-assigned to a shard and every shard packs
    independently in parallel (bin_id = shard * 2^40 + local_bin;
    disjoint, deterministic). Cross-shard bins never mix, so N only
    changes grouping, not correctness.
    """
    from pyspark.sql import Window as W

    h = H.seeded_md5(F.col(key_col), seed)
    if shards is None:
        before = global_positions(
            df.withColumn("_h", h), ["_h", key_col], size_col=size_col
        )
        return (
            before.withColumn(
                "bin_id", F.floor(F.col("_gpos") / budget).cast("long")
            )
            .drop("_h", "_gpos")
        )
    shard = hash_bucket(F.col(key_col), seed + 1) % shards
    out = df.withColumn("_shard", shard)
    w = W.partitionBy("_shard").orderBy(h, F.col(key_col)).rowsBetween(
        W.unboundedPreceding, -1
    )
    before = F.coalesce(F.sum(size_col).over(w), F.lit(0))
    local_bin = F.floor(before / budget).cast("long")
    return out.withColumn(
        "bin_id", (F.col("_shard").cast("long") * F.lit(1 << 40) + local_bin)
    ).drop("_shard")


def global_positions(
    df: DataFrame,
    order_cols: list[str],
    size_col: str | None = None,
    out_col: str = "_gpos",
    partitions: int | None = None,
) -> DataFrame:
    """Distributed global rank / global running sum — the scalable
    replacement for `Window.orderBy(...)` (which Spark compiles to an
    Exchange SinglePartition + one-task sort of the ENTIRE input).

    Three steps, all parallel:
      1. range-repartition on the order columns (sampled boundaries —
         the same machinery a global ORDER BY uses),
      2. one pass to count (or sum `size_col`) per range partition —
         P longs to the driver, cumulative offsets broadcast back,
      3. a partition-local window adds offset + local position.

    out_col = number of rows (size_col=None) or sum of size_col over all
    rows strictly BEFORE this row in the total order. Deterministic
    whenever the order columns form a unique total order: partition
    boundaries may vary with input layout, but every row's set of
    predecessors — and hence its position — cannot.

    Scale: two parallel exchanges of the ordered columns replace the
    single-task sort; the driver sees P longs. The localCheckpoint pins
    the sampled range partitioning so the counting pass and the window
    pass cannot disagree (and the expensive child plan runs once).
    """
    from pyspark.sql import Window as W

    spark = df.sparkSession
    P = partitions or spark.sparkContext.defaultParallelism
    parted = df.repartitionByRange(P, *order_cols).localCheckpoint(eager=False)
    per_part = (
        parted.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(
            (
                F.count("*") if size_col is None else F.sum(size_col)
            ).cast("long").alias("_n")
        )
        .collect()
    )
    offsets, running = [], 0
    for r in sorted(per_part, key=lambda r: r["_pid"]):
        offsets.append((r["_pid"], running))
        running += r["_n"]
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    wl = W.partitionBy("_pid").orderBy(*order_cols)
    local = (
        (F.row_number().over(wl).cast("long") - 1)
        if size_col is None
        else F.coalesce(
            F.sum(size_col).over(wl.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long")
    )
    return (
        parted.withColumn("_pid", F.spark_partition_id())
        .withColumn(out_col, local)
        .join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col(out_col) + F.col("_off")))
        .drop("_pid", "_off")
    )


def global_shuffle_order(df: DataFrame, key_col: str, seed: int = 0) -> DataFrame:
    """Deterministic training-order shuffle: position = rank of
    md5(seed|key) (key_col tiebreak). Re-runs, engines, and partitionings
    all produce the same permutation; changing the seed gives a fresh
    epoch order with no state.

    r6: ranks via `global_positions` (range-partitioned distributed
    rank) — no single-task sort; identical output (the (hash, key) order
    is a unique total order, so positions are layout-independent).
    """
    ranked = global_positions(
        df.withColumn("_h", H.seeded_md5(F.col(key_col), seed)),
        ["_h", key_col],
        out_col="position",
    )
    return ranked.withColumn("position", F.col("position").cast("bigint")).drop("_h")


def priority_sample(
    df: DataFrame, key_col: str, weight_col: str, k: int, seed: int = 0
) -> DataFrame:
    """Weighted sample of k rows WITHOUT replacement with unbiased
    subset-sum estimates — priority sampling (Duffield, Lund, Thorup 2007).

    priority = w / u with u = (hex15(md5(seed|key)) + 1) / 2^60 ∈ (0, 1];
    the k highest priorities win and each winner's weight estimate is
    max(w, tau) where tau is the (k+1)-th priority. sum(w_est) over the
    sample is an unbiased estimator of sum(w) over the population.

    Determinism across engines: priority uses only *, / on exact inputs —
    IEEE-deterministic, unlike pow/ln-based Efraimidis-Spirakis keys, so
    the DuckDB oracle reproduces it bit-for-bit. Ties broken by key_col.

    Scale: one distributed top-(k+1) (TakeOrderedAndProject — per-partition
    heap, no global sort); tau/rank run as a window over k+1 rows only.
    """
    from pyspark.sql import Window as W

    u_den = float(1 << 60)
    pr = (
        F.col(weight_col).cast("double")
        * F.lit(u_den)
        / (H.hash15(F.col(key_col), seed) + F.lit(1)).cast("double")
    )
    top = (
        df.select(
            F.col(key_col),
            F.col(weight_col).cast("double").alias("w"),
            pr.alias("priority"),
        )
        .orderBy(F.desc("priority"), key_col)
        .limit(k + 1)
    )
    w_all = W.orderBy(F.desc("priority"), key_col)
    w_tau = w_all.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        top.withColumn("_rn", F.row_number().over(w_all))
        # tau = (k+1)-th priority; if the population has <= k rows the
        # threshold never fires and w_est = w exactly.
        .withColumn(
            "_tau",
            F.when(F.count("*").over(w_tau) > k, F.min("priority").over(w_tau)).otherwise(
                F.lit(0.0)
            ),
        )
        .where(F.col("_rn") <= k)
        .select(
            key_col,
            "w",
            "priority",
            F.greatest(F.col("w"), F.col("_tau")).alias("w_est"),
        )
    )


def negative_pairs(
    df: DataFrame, key_col: str, k: int = 2, seed: int = 0, stride: int = 7919
) -> DataFrame:
    """Deterministic contrastive-negative pairing: every key gets k
    pseudo-random partners, reproducibly. Keys are ranked by seeded hash
    (a uniform permutation both engines compute identically), then rank
    r pairs with ranks (r + j*stride) % N for j = 1..k. Because the rank
    permutation is hash-random, the partner of any anchor is an
    effectively uniform draw — but bit-identical across engines, runs,
    and partitionings, which IEEE-random negatives can never be (the
    property that makes embedding-training data AUDITABLE).

    Scale shape: ranking via `global_positions` (range-partitioned
    distributed rank — only (key, hash) pairs enter it, never payloads;
    no single-task sort anywhere), one explode to k rows per anchor, one
    equi-join on rank. At 100 TB rank only the KEYS (bigint pairs,
    ~16 bytes/row) and join payloads back afterwards.

    Self-pairs (possible when gcd(stride, N) > 1 collapses an orbit, or
    N <= k*stride wraps onto r) are dropped rather than remapped — the
    count lost is 0 or negligible and remapping would break the
    closed-form oracle.
    """
    # ranked feeds three consumers (count, anchors, the rank join) —
    # lazy-checkpoint it so the rank computation runs once.
    ranked = (
        global_positions(
            df.select(F.col(key_col), H.hash15(F.col(key_col), seed).alias("h")),
            ["h", key_col],
            out_col="r",
        )
        .select(key_col, F.col("r").cast("bigint").alias("r"))
        .localCheckpoint(eager=False)
    )
    n = ranked.groupBy().agg(F.count("*").alias("cnt"))
    anchors = (
        ranked.crossJoin(F.broadcast(n))
        .select(
            F.col(key_col).alias("anchor_id"),
            F.explode(F.array(*[F.lit(j) for j in range(1, k + 1)])).alias("j"),
            "r",
            "cnt",
        )
        .select(
            "anchor_id",
            F.col("j").cast("bigint").alias("j"),
            ((F.col("r") + F.col("j") * F.lit(stride)) % F.col("cnt")).alias("nr"),
        )
    )
    neg = ranked.select(F.col(key_col).alias("neg_id"), F.col("r").alias("nr"))
    return (
        anchors.join(neg, "nr")
        .filter(F.col("neg_id") != F.col("anchor_id"))
        .select("anchor_id", "neg_id", "j")
    )


def unimax_allocation(
    df: DataFrame,
    source_col: str = "source",
    weight_col: str = "n_chars",
    budget_frac: float = 0.85,
    max_epochs: int = 1,
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023): distribute a total
    token budget B = floor(budget_frac * corpus_tokens) across sources so
    that no source is repeated beyond `max_epochs` and the leftover is
    shared EQUALLY among the sources big enough to absorb it.

    The paper's sequential greedy (ascending by size: give each source
    min(c_i * E, remaining / sources_left)) has a closed water-filling
    form because the cap-binding test is monotone in the size order:
    f(i) = B - E*cum_before(i) - c_i*E*(n-i+1) is non-increasing when
    sizes ascend, so the capped sources are exactly a PREFIX. Two windows
    over the per-source totals (n_sources rows) find the prefix; the
    shared quota u = (B - E*Σ_capped c) / n_uncapped is ONE IEEE division
    of integer-exact operands — bit-identical cross-engine, no recursion.
    u <= c_j*E holds for every uncapped j (u < c_k**E at the first
    uncapped k* by definition, and c ascends), so the greedy and the
    closed form agree exactly.

    Scale: the corpus touches ONE map-side-combinable groupBy(source);
    everything after runs on n_sources rows. Returns one row per source:
    (source, tokens, capped, quota, epochs) — feed `epochs` (a rate when
    < 1) into hash_bucket sampling to materialize the mixture.
    """
    from pyspark.sql import Window as W

    E = int(max_epochs)
    c = df.groupBy(source_col).agg(
        F.sum(weight_col).cast("long").alias("tokens")
    )
    w_ord = W.orderBy("tokens", source_col)
    w_all = W.partitionBy()
    t = c.select(
        source_col,
        "tokens",
        F.row_number().over(w_ord).cast("long").alias("rn"),
        F.coalesce(
            F.sum("tokens").over(w_ord.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        ).alias("cumbefore"),
        F.count("*").over(w_all).cast("long").alias("n"),
        F.sum("tokens").over(w_all).alias("total"),
    )
    budget = F.floor(F.lit(float(budget_frac)) * F.col("total").cast("double")).cast(
        "long"
    )
    t = t.withColumn("B", budget).withColumn(
        "capped",
        F.col("tokens") * E * (F.col("n") - F.col("rn") + 1)
        <= F.col("B") - E * F.col("cumbefore"),
    )
    g = t.select(
        "*",
        F.sum(F.when(F.col("capped"), F.col("tokens")).otherwise(0))
        .over(w_all)
        .alias("cap_c"),
        F.sum(F.when(F.col("capped"), 1).otherwise(0)).over(w_all).alias("n_cap"),
    )
    share = (F.col("B") - E * F.col("cap_c")).cast("double") / (
        F.col("n") - F.col("n_cap")
    )
    quota = F.when(F.col("capped"), (F.col("tokens") * E).cast("double")).otherwise(
        share
    )
    return g.select(
        source_col,
        "tokens",
        "capped",
        quota.alias("quota"),
        (quota / F.col("tokens")).alias("epochs"),
    )


def cluster_safe_split(
    df: DataFrame, cluster_col: str, test_bp: int = 1000, seed: int = 0
) -> DataFrame:
    """Leakage-free train/test split: the hash decision keys on the
    CLUSTER id (near-dup component representative), not the row key, so
    every member of a near-duplicate cluster lands on the SAME side —
    the split a plain per-document hash cannot give (near-identical
    text in train AND test silently inflates eval).

    Scale: one scan-local expression on an already-clustered frame —
    the cost lives in producing cluster ids (LSH + connected
    components, both near-linear); the split itself moves nothing."""
    b = hash_bucket(F.col(cluster_col), seed)
    return df.withColumn(
        "split", F.when(b < test_bp, F.lit("test")).otherwise(F.lit("train"))
    )
