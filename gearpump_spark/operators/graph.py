"""Iterative graph compute — PageRank parity with the reference's BSP
example (reference: examples/pagerank/PageRankController.scala:38-70,
PageRankWorker.scala:51-72: controller ticks rounds, workers exchange
UpdateWeight messages, dangling nodes redistribute rank evenly).

Spark-first: a driver-side loop of join+aggregate per superstep (the
controller's tick), with per-iteration materialization. Scale notes:
- each iteration is one shuffle keyed on dst (contribution aggregation)
  plus a broadcast of the dangling-mass scalar;
- lineage is cut every iteration via localCheckpoint (checkpoint on a
  real cluster), otherwise the logical plan doubles per superstep and
  analysis time alone kills the job long before 100 TB;
- convergence on max |delta| mirrors PageRankController.scala:66-70.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _node_set(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct endpoints of an edge list as one persisted ``node_id``
    column; the caller unpersists it."""
    return (
        edges.select(F.col(src).alias("node_id"))
        .union(edges.select(F.col(dst).alias("node_id")))
        .distinct()
        .persist()
    )


def _seed_predicate(nodes: DataFrame, seeds: "list[int]", op_name: str):
    """``node_id IN seeds``, after checking every seed is a node. A seed
    absent from the graph would silently lose its restart mass while a
    sequential reference raises on it — fail loudly instead (the
    persisted ``nodes`` is released first)."""
    is_seed = F.col("node_id").isin(seeds)
    if nodes.where(is_seed).count() != len(seeds):
        known = {r.node_id for r in nodes.where(is_seed).collect()}
        unknown = sorted(s for s in seeds if s not in known)
        nodes.unpersist()
        raise ValueError(f"{op_name}: seeds not present in the graph: {unknown}")
    return is_seed


def _pagerank_loop(
    edges: DataFrame,
    seeds: "list[int] | None",
    damping: float,
    max_iter: int,
    tol: float,
    src: str,
    dst: str,
    op_name: str,
) -> DataFrame:
    """Shared float superstep loop behind `pagerank` (``seeds`` None:
    restart set = all n nodes) and `personalized_pagerank` (restart set =
    the k validated seeds). The rank update is picked once per variant,
    so each keeps its own float evaluation order bit for bit. An
    edge-free input returns an empty (node_id, rank) frame, and every
    relation persisted here is released before returning.
    """
    nodes = _node_set(edges, src, dst)
    n = nodes.count()
    if n == 0:
        nodes.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))
    in_mass = F.coalesce(F.col("in_mass"), F.lit(0.0))
    if seeds is None:
        k, is_seed = n, F.lit(True)
        new_rank = F.lit((1.0 - damping) / n) + F.lit(damping) * (
            in_mass + F.col("dangling_mass") / F.lit(float(n))
        )
    else:
        k, is_seed = len(seeds), _seed_predicate(nodes, seeds, op_name)
        # teleport AND dangling mass restart to the seeds only
        new_rank = (
            F.when(is_seed, F.lit((1.0 - damping) / k)).otherwise(F.lit(0.0))
            + F.lit(damping) * in_mass
            + F.when(
                is_seed, F.lit(damping) * F.col("dangling_mass") / F.lit(float(k))
            ).otherwise(F.lit(0.0))
        )
    out_deg = edges.groupBy(src).agg(F.count("*").alias("out_deg")).persist()
    ranks = nodes.withColumn(
        "rank", F.when(is_seed, F.lit(1.0 / k)).otherwise(F.lit(0.0))
    ).localCheckpoint()

    for _ in range(max_iter):
        # Dangling mass folds into the rank plan as a 1-row broadcast
        # cross-join (left-anti vs out_deg = nodes with no outgoing edges)
        # instead of a separate driver collect — the superstep's real
        # pipeline runs exactly once, in the localCheckpoint job; the
        # convergence delta then joins the two CHECKPOINTED rank tables
        # (O(n) scan, no recompute). Two pinned non-designs, both measured
        # to double per-iteration time from ~iter 15 under AQE by defeating
        # lineage truncation: (a) localCheckpoint(eager=False) + reading
        # delta off the same action; (b) carrying prev_rank via a
        # ranks-self-join inside the checkpointed plan.
        dangling_mass = (
            ranks.join(out_deg, ranks.node_id == out_deg[src], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass"))
        )
        contribs = (
            edges.join(out_deg, src)
            .join(ranks, F.col(src) == ranks.node_id)
            .select(F.col(dst).alias("node_id"), (F.col("rank") / F.col("out_deg")).alias("c"))
        )
        new_ranks = (
            nodes.join(contribs.groupBy("node_id").agg(F.sum("c").alias("in_mass")), "node_id", "left")
            .crossJoin(F.broadcast(dangling_mass))
            .select("node_id", new_rank.alias("rank"))
            .localCheckpoint()  # truncate lineage: plan stays O(1) per round
        )
        delta = (
            ranks.join(new_ranks.withColumnRenamed("rank", "new_rank"), "node_id")
            .agg(F.max(F.abs(F.col("rank") - F.col("new_rank"))))
            .collect()[0][0]
        )
        ranks = new_ranks
        if delta is not None and delta < tol:
            break
    nodes.unpersist()
    out_deg.unpersist()
    return ranks


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list. Returns (node_id, rank).

    Dangling-node mass is redistributed uniformly each round, matching
    the reference (PageRankWorker.scala:55-63).
    """
    return _pagerank_loop(edges, None, damping, max_iter, tol, src, dst, "pagerank")


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED SET):
    teleport mass lands only on `seeds`, so rank measures proximity to
    the seeds — the recommendation / trust-propagation / seed-expansion
    variant (Haveliwala 2002, topic-sensitive PageRank; the reference's
    PageRankWorker restarts uniformly — this is the strict superset
    with uniform = seeds == all nodes).

    Same BSP loop discipline as `pagerank`: one keyed shuffle per round,
    lineage cut via localCheckpoint, driver sees one delta scalar per
    round. Dangling mass restarts to the seed set (the standard RWR
    convention — walk falls off, teleports home). Float power iteration
    (order-dependent sums) → rows-only query + numpy golden, like the
    float `pagerank`.
    """
    seeds = _validated_seeds(seeds, "personalized_pagerank")
    return _pagerank_loop(
        edges, seeds, damping, max_iter, tol, src, dst, "personalized_pagerank"
    )


def _pagerank_int_loop(
    e: DataFrame,
    seeds: "list[int] | None",
    n_iter: int,
    scale: int,
    damping_num: int,
    damping_den: int,
    op_name: str,
) -> DataFrame:
    """Shared superstep loop behind the four BIT-REPRODUCIBLE PageRank
    variants (uniform/weighted × global/personalized). ``e`` is the
    normalized (src, dst, w) edge frame — the uniform wrappers pass
    w = 1, which makes contrib (r·1) DIV tw bit-identical to
    r DIV out_deg; ``seeds`` is None for the global teleport (restart
    set = all nodes, kk = n) or the seed list (restart set = seeds,
    kk = k, validated here against the node set). Every arithmetic step
    is the one documented on the public wrappers; this function exists
    only to keep the four loops from drifting apart.
    """
    nodes = _node_set(e, "src", "dst")
    n = nodes.count()
    if n == 0 and seeds is None:
        nodes.unpersist()
        return nodes.withColumn("r", F.lit(0).cast("long"))
    if seeds is None:
        kk = n
        is_seed = F.lit(True)
        seed_share = f"dm DIV {n}L"
    else:
        kk = len(seeds)
        is_seed = _seed_predicate(nodes, seeds, op_name)
        seed_pred = "node_id IN (" + ",".join(map(str, seeds)) + ")"
        seed_share = f"CASE WHEN {seed_pred} THEN dm DIV {kk}L ELSE 0L END"
    out_w = e.groupBy("src").agg(F.sum("w").cast("long").alias("tw")).persist()
    base = (damping_den - damping_num) * scale // (damping_den * kk)
    ranks = nodes.withColumn(
        "r", F.when(is_seed, F.lit(scale // kk)).otherwise(F.lit(0)).cast("long")
    ).localCheckpoint()

    for _ in range(n_iter):
        dangling = ranks.join(
            out_w, ranks.node_id == out_w.src, "left_anti"
        ).agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dm"))
        contribs = (
            e.join(out_w, "src")
            .join(ranks, F.col("src") == ranks.node_id)
            .select(
                F.col("dst").alias("node_id"),
                F.expr("(r * w) DIV tw").alias("c"),
            )
        )
        ranks = (
            nodes.join(
                contribs.groupBy("node_id").agg(F.sum("c").alias("im")),
                "node_id",
                "left",
            )
            .crossJoin(F.broadcast(dangling))
            .select(
                "node_id",
                (
                    F.when(is_seed, F.lit(base)).otherwise(F.lit(0)).cast("long")
                    + F.expr(
                        f"({damping_num} * (coalesce(im, 0L) + ({seed_share})))"
                        f" DIV {damping_den}"
                    ).cast("long")
                ).alias("r"),
            )
            .localCheckpoint()  # truncate lineage: plan stays O(1) per round
        )
    nodes.unpersist()
    out_w.unpersist()
    return ranks


def _with_unit_weight(e: DataFrame) -> DataFrame:
    return e.withColumn("w", F.lit(1).cast("long"))


def _validated_seeds(seeds: list, op_name: str) -> "list[int]":
    if not seeds:
        raise ValueError(f"{op_name} needs a non-empty seed set")
    seeds = [int(s) for s in seeds]
    if len(set(seeds)) != len(seeds):
        raise ValueError(f"{op_name}: duplicate seeds")
    return seeds


def _validated_weights(e: DataFrame, op_name: str) -> DataFrame:
    """Weight positivity is part of the (r·w) DIV W contract, enforced
    like the seed validation, not just documented (ADVICE r7 #3): a zero
    or negative aggregated out-weight W makes `(r * w) DIV W` NULL in
    Spark (silently dropped from the in-mass sum — leaked rank mass)
    while a SQL oracle errors on the division — a silent cross-engine
    divergence. Checking every individual weight > 0 is strictly
    stronger (a sum of positives is positive) and catches the
    negative-weight-positive-total case the aggregate check would miss.
    NULL weights are rejected too (ADVICE r8 #2): F.min skips NULLs, so
    a NULL weight would pass a min-only check and still produce the
    NULL (r·w) DIV W mass leak this guard exists to catch. Both checks
    share ONE map-side aggregation returning a single row."""
    row = e.agg(
        F.min("w").alias("mn"),
        (F.count("*") - F.count("w")).alias("n_null"),
    ).collect()[0]
    if row.n_null:
        raise ValueError(
            f"{op_name}: {row.n_null} edge(s) have NULL weight; NULL w"
            " makes (r * w) DIV W NULL and silently leaks rank mass"
        )
    if row.mn is not None and row.mn <= 0:
        raise ValueError(
            f"{op_name}: edge weights must be positive (min weight ="
            f" {row.mn}); rank mass splits as (r * w) DIV W and a"
            " non-positive total out-weight makes the floor division"
            " undefined"
        )
    return e


def personalized_pagerank_int(
    edges: DataFrame,
    seeds: list,
    n_iter: int = 10,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """BIT-REPRODUCIBLE personalized PageRank (random walk with restart):
    the integer-micro-unit counterpart of `personalized_pagerank`, exactly
    as `pagerank_int` is to `pagerank` — ranks are BIGINT micro-units,
    every step is floor-division integer arithmetic, so the 10-iteration
    fixpoint hash-matches an unrolled SQL CTE chain across engines,
    partitionings, and runs (reference restart semantics:
    examples/pagerank/PageRankController.scala:38-70, restricted to a
    seed restart vector per Haveliwala 2002).

    Per iteration (all BIGINT, non-negative; k = |seeds|):
        contrib(e)   = rank[src(e)] DIV out_deg[src(e)]
        in_mass(v)   = Σ contrib over incoming edges
        dang_share   = (Σ rank over dangling nodes) DIV k   [seeds only]
        rank'(v)     = seed(v)·(15·scale) DIV (100·k)
                       + (85·(in_mass(v) + seed(v)·dang_share)) DIV 100

    Same superstep plan shape as pagerank_int: one dst-keyed shuffle per
    round, localCheckpoint lineage cuts, the driver never sees per-node
    data — only the seed list (k ids) crosses the boundary.
    """
    seeds = _validated_seeds(seeds, "personalized_pagerank_int")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    return _pagerank_int_loop(
        _with_unit_weight(e), seeds, n_iter, scale, damping_num, damping_den,
        "personalized_pagerank_int",
    )


def pagerank_weighted_int(
    edges: DataFrame,
    n_iter: int = 10,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """BIT-REPRODUCIBLE WEIGHTED PageRank: `pagerank_int` where each edge
    carries a positive BIGINT weight and a node's rank splits over its
    out-edges proportionally to weight instead of uniformly (reference
    semantics: examples/pagerank/PageRankWorker.scala names its rank
    messages UpdateWeight — the uniform split is the special case w=1;
    this is the general transition matrix P(u,v) = w(u,v)/W(u)).

    Per iteration (all BIGINT, non-negative; W(u) = Σ out-weights):
        contrib(e)   = (rank[src(e)] · w(e)) DIV W[src(e)]
        in_mass(v)   = Σ contrib over incoming edges
        dang_share   = (Σ rank over dangling nodes) DIV n
        rank'(v)     = (15·scale) DIV (100·n)
                       + (85·(in_mass(v) + dang_share)) DIV 100

    Overflow bound: rank ≤ scale (10^12) and the caller keeps edge
    weights ≤ ~10^6, so rank·w ≤ 10^18 < 2^63 — inside BIGINT in both
    engines (the oracle mirrors the same product-then-floor-divide
    order; floor(r·w / W) is NOT floor(r/W)·w, so the order is part of
    the contract). Same superstep plan shape as pagerank_int: one
    dst-keyed shuffle per round, localCheckpoint lineage cuts, no
    per-node data on the driver. Duplicate (src,dst) edges are the
    caller's contract to pre-aggregate (parallel edges just add their
    weights into W and contribute separately — same total mass, but the
    caller's oracle must mirror whichever form it feeds).
    """
    e = _validated_weights(
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).alias("w"),
        ),
        "pagerank_weighted_int",
    )
    return _pagerank_int_loop(
        e, None, n_iter, scale, damping_num, damping_den, "pagerank_weighted_int"
    )


def personalized_pagerank_weighted_int(
    edges: DataFrame,
    seeds: list,
    n_iter: int = 10,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """BIT-REPRODUCIBLE weighted personalized PageRank — the composition
    of `pagerank_weighted_int` (rank splits over out-edges proportionally
    to weight, contrib = (r·w) DIV W) and `personalized_pagerank_int`
    (teleport + dangling mass restart to the seed set): the random walk
    with restart over a weighted graph, i.e. item/account
    recommendation scoring where edge strength matters. All-BIGINT
    floor-division supersteps; hash-matches an unrolled SQL CTE chain.

    Same validation contract as personalized_pagerank_int (non-empty,
    duplicate-free, in-graph seeds) and the same overflow bound as
    pagerank_weighted_int (rank·w stays under 2^63 for weights ≤ ~10^6).
    One dst-keyed shuffle per superstep, localCheckpoint lineage cuts;
    only the k seed ids cross the driver boundary.
    """
    seeds = _validated_seeds(seeds, "personalized_pagerank_weighted_int")
    e = _validated_weights(
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).alias("w"),
        ),
        "personalized_pagerank_weighted_int",
    )
    return _pagerank_int_loop(
        e, seeds, n_iter, scale, damping_num, damping_den,
        "personalized_pagerank_weighted_int",
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over an undirected edge list → (node_id,
    component) where component = min node id in the component.

    Min-label propagation: every round each node takes the min label among
    itself and its neighbors; converges in O(component diameter) rounds —
    near-dup clusters are shallow (stars/cliques), so 2-3 rounds in
    practice. Same BSP loop discipline as pagerank above (the reference's
    controller-tick pattern, examples/pagerank/PageRankController.scala:38-70):
    one keyed shuffle per round, lineage cut via localCheckpoint, driver
    only sees the 1-row convergence count. For adversarially long chains at
    100 TB, swap the propagation body for large-star/small-star
    (Kiveris et al. 2014) — same loop skeleton, fewer rounds.

    ``nodes`` (optional, one ``node_id`` column) adds isolated vertices as
    singleton components.
    """
    und = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    base = und.select(F.col("u").alias("node_id"))
    if nodes is not None:
        base = base.union(nodes.select(F.col(nodes.columns[0]).alias("node_id")))
    labels = base.distinct().withColumn("comp", F.col("node_id")).localCheckpoint()
    und = und.persist()

    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und.u == labels.node_id)
            .select(F.col("v").alias("node_id"), "comp")
        )
        new_labels = (
            labels.select("node_id", "comp")
            .union(neighbor_min)
            .groupBy("node_id")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node_id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    und.unpersist()
    return labels.select("node_id", "comp")


def _canonical_undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected edge list (u, v) with u < v: self-loops
    dropped, each unordered pair once."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    return e.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()


def _adjacency(und: DataFrame) -> DataFrame:
    """Both directions of a canonical edge list as (n, nb) rows."""
    return und.select(F.col("u").alias("n"), F.col("v").alias("nb")).union(
        und.select(F.col("v").alias("n"), F.col("u").alias("nb"))
    )


def triangle_count_estimate(
    edges: DataFrame,
    p_bp: int = 2000,
    seed: int = 7,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DOULION sampled triangle estimate (Tsourakakis, Kang, Miller,
    Faloutsos, KDD 2009): keep each undirected edge independently with
    probability p, exact-count triangles on the sparsified graph, and
    unbias by 1/p^3 — E[count/p^3] equals the true triangle count because
    each triangle survives with probability p^3.

    This is the 100 TB variant of ``triangle_count``: the exact
    degree-ordered path is Θ(m^1.5) wedge checks, intrinsically
    superlinear; sampling at p cuts wedge work by ~p^2 (and the closing
    join by p^3) while the estimator concentrates for any graph with
    Ω(1/p^3) triangles. p is expressed in basis points (p_bp / 10000)
    and membership is decided by the engine's seeded-md5 family on the
    canonical edge pair — deterministic across runs AND engines, so the
    sampled subcount is exactly oracle-checkable.

    Returns 1 row: (n_nodes, n_edges, n_sampled_edges,
    n_sampled_triangles, est_triangles), where n_nodes/n_edges describe
    the FULL graph and est_triangles = n_sampled_triangles / p^3.
    """
    from gearpump_spark.operators.sampling import hash_bucket

    und = _canonical_undirected(edges, src, dst)
    # The canonical edge list is consumed by EVERY downstream leg — the
    # sample filter (whose triangle_count consumes it ~6 more times:
    # degrees, both orientation joins, both wedge sides, the closing set),
    # the node count, and the edge count. When the upstream derivation is
    # expensive (e.g. a co-purchase self-join), staying fully lazy re-runs
    # it per consumer — measured 12.4s vs 3.4s at sf0.1. Lazy
    # localCheckpoint materializes it once (eager=False defers the blocks
    # to the first action, but under AQE creating the checkpoint runs the
    # shuffle stages below it: 4 jobs at sf0.001; the exact path's "auto"
    # adds a count() to pick a strategy).
    und = und.localCheckpoint(eager=False)
    kept = und.where(hash_bucket(F.concat_ws(",", F.col("u"), F.col("v")), seed) < p_bp)
    # explicit strategy (no count action); "merge" because a graph worth
    # SAMPLING is one whose sampled edge list may still be too big to
    # broadcast. kept IS canonical (a filter over the distinct canonical
    # und), so the inner canonicalize+distinct pass is skipped outright.
    sampled = triangle_count(
        kept, src="u", dst="v", close_strategy="merge", assume_canonical=True
    ).select(
        F.col("n_edges").alias("n_sampled_edges"),
        F.col("n_triangles").alias("n_sampled_triangles"),
    )
    full_nodes = (
        und.select(F.col("u").alias("n"))
        .union(und.select(F.col("v").alias("n")))
        .distinct()
        .agg(F.count("*").alias("n_nodes"))
    )
    scale = (10000.0 / p_bp) ** 3
    return (
        full_nodes.crossJoin(und.agg(F.count("*").alias("n_edges")))
        .crossJoin(sampled)
        .select(
            F.col("n_nodes").cast("long"),
            F.col("n_edges").cast("long"),
            F.col("n_sampled_edges").cast("long"),
            F.col("n_sampled_triangles").cast("long"),
            (F.col("n_sampled_triangles") * F.lit(scale)).alias("est_triangles"),
        )
    )


def _degree_oriented_wedges(und: DataFrame, broadcast_wedges: bool = False):
    """(deg, oriented, wedges, closing) over a canonical undirected edge
    list — the degree-ordered wedge machinery shared by triangle_count
    and clustering_coefficient:

    - degrees, then orientation low-(degree, id) → high-(degree, id)
      (bounds every out-degree by O(sqrt(m)), Suri & Vassilvitskii 2011);
    - ``deg`` and ``oriented`` are lazily localCheckpoint'd: both are
      consumed by three downstream legs (both wedge sides + the closing
      set; deg additionally by the orientation attach twice and the
      clustering-coefficient output join), and without the cut each
      consumer re-derives the whole degree-agg + attach-join subtree —
      the r10 plan audit counted the orientation derivation THREE times
      in the physical plan (6 SortMergeJoins, ~15 Exchanges for what is
      one pass of work). eager=False defers the blocks to the first
      action, but under AQE creating each checkpoint runs the shuffle
      stages below it (1-3 jobs at sf0.001).

    Two wedge-join strategies, chosen by the caller's closing strategy
    (the same small-graph/large-graph split):

    - broadcast_wedges=True (callers that already broadcast the closing
      set, i.e. m <= broadcast_max_edges): the wedge build side IS the
      oriented edge list — the same order of bytes as the closing set
      the caller broadcasts — so broadcast it too and generate the
      quadratic fan-out STREAM-SIDE with no exchange, no sort and no
      salting at all. The probe side is round-robin repartitioned to the
      pinned width first (the checkpointed edge list is tiny — AQE/
      upstream coalescing would otherwise leave the fan-out on a handful
      of tasks), and round-robin spreads a hub center's probe rows
      evenly by construction — the skew the salt existed to break was a
      property of hash-partitioning on the center key. Measured at
      sf0.1 (1.17M edges): the salted-exchange design shuffles 16×|E|
      replicated build rows + |E| probe rows and sorts both; this plan
      shuffles |E| round-robin rows and sorts nothing — the whole
      quadratic stage (fan-out, t1<t2 filter, closing semi-join,
      partial count) fuses into one WholeStageCodegen span.
    - broadcast_wedges=False (cluster-scale path, edge list too big to
      broadcast): FREQUENCY-GATED salting inside a single join (guide
      §2.5: salt the measured hot keys, leave the long tail unsalted —
      r11; the r10 uniform-salt design replicated the ENTIRE oriented
      list n_salts× for every center, hub or not, so the wedge exchange
      carried 17×|E| rows when the skew it defends against lives in a
      handful of centers). Hub centers = oriented out-degree ≥
      ``hub_min_outdeg`` (computed from the checkpointed ``oriented``,
      one broadcastable aggregate ≤ |E|/threshold rows — lazy, no
      driver action). Every edge carries a per-center salt-space width
      ``_ns`` (n_salts for hubs, 1 for the tail, attached by a broadcast
      left join against the hub set): the probe side salts by
      pmod(hash(t1), _ns) — constant 0 for tail centers — and the build
      side replicates each edge _ns× via explode(sequence(0, _ns-1)).
      Salt key spaces are disjoint by center, so ONE (s, _salt)
      shuffle_hash join emits exactly the r10 wedge multiset while a
      tail center ships its edges once. Deliberately NOT a two-branch
      union (semi/anti split + hub-branch ∪ tail-branch): measured at
      sf1, the Union above the wedge joins de-fused the quadratic
      join→filter→partial-agg codegen pipeline and cost +39% end-to-end
      despite 10× less shuffle input. A non-hub center's fan-out is
      < threshold² wedge rows by construction — bounded per-key work no
      salt is needed for — and orientation bounds out-degree by
      O(√(2m)), so graphs with m ≤ threshold²/2 have no hubs at all and
      shuffle 2×|E| rows instead of 17×|E| (sf1's 12M-edge co-purchase
      graph: max oriented out-degree 97 — hub-free).
    - explicit width pin on the wedge exchange either way: AQE sizes it
      by its (tiny) edge-list input and would coalesce the quadratic
      fan-out into a handful of tasks; a user repartition with an
      explicit count is exempt from AQE coalescing;
    - closing set as canonical undirected pairs (a closing edge may be
      oriented either way between t1 and t2 in the (degree, id) order).
    """
    deg = (
        und.select(F.col("u").alias("n"))
        .union(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
        .localCheckpoint(eager=False)
    )
    deg_u = deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du")
    deg_v = deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv")
    if broadcast_wedges:
        # |deg| <= 2m <= 2*broadcast_max_edges rows of (long, long) — no
        # bigger than the closing set the caller already broadcasts.
        deg_u, deg_v = F.broadcast(deg_u), F.broadcast(deg_v)
    with_deg = und.join(deg_u, "u").join(deg_v, "v")
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    oriented = with_deg.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
    ).localCheckpoint(eager=False)
    n_wedge_parts = max(
        64, int(und.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    )
    if broadcast_wedges:
        wedges = (
            oriented.repartition(n_wedge_parts)
            .select(F.col("s"), F.col("t").alias("t1"))
            .join(F.broadcast(oriented.select(F.col("s"), F.col("t").alias("t2"))), "s")
            .where(F.col("t1") < F.col("t2"))
        )
    else:
        n_salts = 16
        # Hub threshold: a tail center's quadratic fan-out is bounded by
        # threshold²/2 ≈ 0.5M wedge rows — an absolute per-key work bound
        # (tens of MB of join output per center), independent of cluster
        # or data size, so it is a constant rather than a conf. The hub
        # set itself is ≤ |E|/threshold centers — broadcastable whenever
        # the edge list is storable.
        #
        # SINGLE-JOIN gating (r11, second iteration): the first r11 cut
        # expressed the gate as two branches (salted hub join ∪ plain tail
        # join, partitioned by left-semi/left-anti). Measured at sf1 it was
        # 39% SLOWER than r10's uniform salting despite shuffling 10× less:
        # the Union above the wedge joins breaks the join→filter→project→
        # partial-agg WholeStageCodegen pipeline, and the de-fused quadratic
        # stage paid for it per row (event-log A/B, identical 409M-record
        # stage output: 82.5 s fused vs 261.6 s under the Union — +20% CPU,
        # 2× GC, ~3× shuffle-write time). The gate is therefore expressed
        # inside ONE join: every edge carries a per-center salt-space width
        # _ns (n_salts for hubs, 1 for the tail), the probe side salts by
        # pmod(hash(t1), _ns) — constant 0 for tails — and the build side
        # replicates each edge _ns times via explode(sequence(0, _ns-1)).
        # Key spaces are disjoint by center, so the single (s, _salt) join
        # emits exactly the two-branch multiset (= the r10 multiset), the
        # pipeline stays one fused codegen span, and a no-hub graph still
        # shuffles 2×|E| rows instead of 17×|E|.
        hub_min_outdeg = 1024
        outdeg = oriented.groupBy("s").agg(F.count("*").alias("_od"))
        hubs = F.broadcast(
            outdeg.where(F.col("_od") >= hub_min_outdeg)
            .select("s", F.lit(n_salts).alias("_ns"))
        )
        w1 = (
            oriented.select(F.col("s"), F.col("t").alias("t1"))
            .join(hubs, "s", "left")
            .withColumn(
                "_salt", F.pmod(F.hash("t1"), F.coalesce(F.col("_ns"), F.lit(1)))
            )
            .drop("_ns")
        )
        w2 = (
            oriented.select(F.col("s"), F.col("t").alias("t2"))
            .join(hubs, "s", "left")
            .withColumn(
                "_salt",
                F.explode(
                    F.sequence(F.lit(0), F.coalesce(F.col("_ns"), F.lit(1)) - 1)
                ),
            )
            .drop("_ns")
        )
        wedges = (
            w1.repartition(n_wedge_parts, "s", "_salt")
            .hint("shuffle_hash")
            .join(w2, ["s", "_salt"])
            .where(F.col("t1") < F.col("t2"))
            .select("s", "t1", "t2")
        )
    closing = oriented.select(
        F.least("s", "t").alias("c1"), F.greatest("s", "t").alias("c2")
    )
    return deg, oriented, wedges, closing


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    close_strategy: str = "auto",
    broadcast_max_edges: int = 5_000_000,
    assume_canonical: bool = False,
) -> DataFrame:
    """Exact triangle count over an undirected edge list → 1 row
    (n_nodes, n_edges, n_triangles).

    ``assume_canonical=True`` asserts the input is ALREADY a deduped
    canonical undirected list (src < dst, no self-loops, no duplicates)
    and skips the canonicalize + distinct pass — one whole exchange +
    aggregate over the edge list. Callers that derive the edge list from
    an upstream canonical set (triangle_count_estimate's sampled filter)
    use it; results are identical by construction.

    Degree-ordered node-iterator (the MapReduce-era standard, Suri &
    Vassilvitskii 2011): orient every edge from its lower-(degree, id)
    endpoint to the higher one, build wedges by self-joining oriented
    edges on their source, and close each wedge against the oriented edge
    set. Each triangle is counted exactly once (its minimum-order vertex
    forms the wedge).

    Scale: orientation bounds every vertex's out-degree by O(sqrt(m)), so
    wedge fan-out is O(m^1.5) worst-case instead of sum(deg^2) — the
    difference between feasible and not on a power-law graph. Plan shape:
    degree agg (one shuffle), wedge self-join keyed on the shared source
    (one shuffle), then the closing check, whose strategy is the memory
    crux (`close_strategy`):

    - "broadcast" (chosen by "auto" when m <= broadcast_max_edges, ~16
      bytes/edge -> <=~80 MB at the default): the wedge stream flows
      through a broadcast LEFT-SEMI hash lookup against the closing-edge
      set and straight into a KEYLESS count — zero per-task aggregation
      state, no sort anywhere in the quadratic stage. A keyed pre-agg +
      sort-merge join here OOM'd a default-heap (1g) session at sf0.1:
      the per-task pair hash map plus the SMJ sort buffer both scale
      with the wedge fan-out, and neither exists on this path.
    - "merge" (auto above the threshold): collapse wedges to canonical
      (pair, multiplicity) counts first — in clique-heavy graphs the
      aggregate is much smaller than the raw stream — then a shuffled
      join against the closing set. The cluster-scale path when the edge
      list can't broadcast; per-task state is bounded by salting + the
      pinned wedge-exchange width, but it NEEDS executor memory sized
      for the pair map (the standard exact-triangle trade). Measured
      crossover on the co-purchase graph: at 1.2M edges broadcast wins
      ~2x (9.2s vs 16-26s at sf0.1, and it cannot OOM); at 12M edges the
      clique-heavy wedge stream dwarfs the broadcast saving and the
      pre-agg shrink wins (sf1: merge ~130-140s vs broadcast 249s) —
      hence the 5M default.

    Under "auto" the edge list is localCheckpoint'd first: the
    strategy-selecting count then reads materialized blocks, and degrees,
    orientation, both wedge sides, and the closing set all reuse them
    instead of re-deriving the (possibly expensive) upstream plan per
    consumer. An EXPLICIT strategy keeps the plan fully lazy — no
    checkpoint, no driver-side action (what triangle_count_estimate
    relies on to stay declarative end-to-end).
    """
    if assume_canonical:
        und = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    else:
        und = _canonical_undirected(edges, src, dst)
    if close_strategy == "auto":
        und = und.localCheckpoint()
        m = und.count()  # cheap: counts the checkpointed blocks
        close_strategy = "broadcast" if m <= broadcast_max_edges else "merge"
    if close_strategy not in ("broadcast", "merge"):
        raise ValueError(f"close_strategy must be auto|broadcast|merge, got {close_strategy!r}")
    deg, _oriented, wedges, closing = _degree_oriented_wedges(
        und, broadcast_wedges=(close_strategy == "broadcast")
    )
    pairs = wedges.select(
        F.least("t1", "t2").alias("c1"), F.greatest("t1", "t2").alias("c2")
    )
    if close_strategy == "broadcast":
        # Stateless closing (see docstring): broadcast hash semi-join +
        # keyless count. Each closed wedge IS one triangle (its min-order
        # vertex is the wedge center), so no multiplicity bookkeeping.
        tri_count = (
            pairs.join(F.broadcast(closing), ["c1", "c2"], "left_semi")
            .agg(F.count("*").alias("n_triangles"))
        )
    else:
        # Collapse wedges to canonical-pair COUNTS before touching the
        # edge set: in clique-heavy graphs (co-purchase orders) many
        # centers s produce the same (t1, t2), so the aggregate is much
        # smaller than the raw wedge stream. Triangles = Σ wedge
        # multiplicity over pairs that close.
        # Plain groupBy, no explicit repartition (r4): an explicit
        # repartition BEFORE the groupBy defeated map-side combine — the
        # exchange shipped the RAW quadratic wedge stream instead of the
        # partial-aggregated pairs (measured ~10% slower at sf0.1; at
        # cluster scale the network delta is the whole wedge fan-out).
        # The AQE-blindness defense is NOT needed here: this exchange's
        # input is the partial-agg output of the already-exploded wedge
        # stage, so AQE sizes it from REAL post-fan-out bytes (the pin
        # stays on the wedge join above, whose exchange input is the
        # deceptively tiny edge list).
        wedge_pairs = pairs.groupBy("c1", "c2").agg(F.count("*").alias("n_w"))
        # shuffle_hash on the closing side (the cc sf1 lesson, 409s→~150s
        # there): the default SMJ SORTS the aggregated wedge-pair stream —
        # still the quadratic side in clique-light graphs — while a hash
        # join builds on the linear edge set per partition instead.
        tri_count = wedge_pairs.join(closing.hint("shuffle_hash"), ["c1", "c2"]).agg(
            F.coalesce(F.sum("n_w"), F.lit(0)).alias("n_triangles")
        )
    return (
        tri_count
        .crossJoin(und.agg(F.count("*").alias("n_edges")))
        .crossJoin(deg.agg(F.count("*").alias("n_nodes")))
        .select(
            F.col("n_nodes").cast("long"),
            F.col("n_edges").cast("long"),
            F.col("n_triangles").cast("long"),
        )
    )


def connected_components_twophase(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond").

    Same output contract as connected_components (node_id, comp=min id in
    component), but converges in O(log^2 n) rounds instead of O(diameter):
    - large-star: every node points its LARGER neighbors at the minimum of
      its closed neighborhood;
    - small-star: every node and its SMALLER neighbors collapse onto that
      minimum.
    A 10^6-node path graph needs ~20 rounds here vs 10^6 for min-label
    propagation — this is the variant to use when cluster shapes are
    unknown (min-label stays the default for shallow near-dup clusters,
    where 2-3 rounds beat the two shuffles per round paid here).

    Scale: each phase is one groupBy shuffle + one keyed join; edge count
    never grows (stars only re-point edges); lineage cut per round via
    localCheckpoint; the driver sees only a per-round (count, checksum)
    pair for the fixpoint test.
    """
    from gearpump_spark.functions.hash import hash15

    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo"))
        .distinct()
        .localCheckpoint()
    )

    def checksum(pairs: DataFrame):
        # one action per round: (n_edges, order-insensitive content hash)
        # sum in decimal(38,0): 2^60-sized terms overflow BIGINT sums under
        # ANSI mode long before the row count gets interesting
        h = hash15(F.concat_ws(",", "hi", "lo"), 0).cast("decimal(38,0)")
        row = pairs.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return row.n, row.s

    prev = checksum(e)
    for _ in range(max_iter):
        # large-star over the symmetric view: for each center u, m =
        # min(N(u) ∪ {u}); larger neighbors v > u re-point to (v, m).
        s = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = s.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        ls = (
            s.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # small-star on the (hi -> lo) orientation: for each hi, m =
        # min(smaller neighbors); they and hi itself collapse onto m.
        mins2 = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        ss = (
            ls.join(mins2, "hi")
            .select(F.greatest("lo", "m").alias("hi"), F.least("lo", "m").alias("lo"))
            .union(mins2.select(F.col("hi"), F.col("m").alias("lo")))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint()
        )
        e = ss
        cur = checksum(e)
        if cur == prev:
            break
        prev = cur

    # At the fixpoint every edge points a node straight at its component
    # minimum: labels = non-root nodes (hi -> lo) ∪ roots ∪ isolated nodes.
    labels = e.select(F.col("hi").alias("node_id"), F.col("lo").alias("comp")).union(
        e.select(F.col("lo").alias("node_id"), F.col("lo").alias("comp"))
    )
    all_nodes = edges.select(F.col(src).alias("node_id")).union(
        edges.select(F.col(dst).alias("node_id"))
    )
    if nodes is not None:
        all_nodes = all_nodes.union(nodes.select(F.col(nodes.columns[0]).alias("node_id")))
    singletons = all_nodes.distinct().join(
        labels.select("node_id"), "node_id", "left_anti"
    )
    return labels.distinct().union(
        singletons.withColumn("comp", F.col("node_id"))
    )


def pagerank_int(
    edges: DataFrame,
    n_iter: int = 10,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """BIT-REPRODUCIBLE PageRank: ranks are integers in `scale` micro-units
    and every step is integer arithmetic (DIV = floor division), so the
    result is identical across engines, partitionings, and runs — float
    PageRank is summation-order-dependent, which is why `graph_pagerank`
    can only be rows-only checked while this variant is hash-checkable
    (and auditable: a governance pipeline can re-verify scores exactly).

    Per iteration (all BIGINT, non-negative):
        contrib(e)   = rank[src(e)] DIV out_deg[src(e)]
        in_mass(v)   = Σ contrib over incoming edges
        dang_share   = (Σ rank over dangling nodes) DIV n
        rank'(v)     = (15·scale) DIV (100·n)
                       + (85·(in_mass(v) + dang_share)) DIV 100

    The floor divisions leak ≤ 1 micro-unit per term — total mass decays
    by < n·2 micro-units per round, which at scale=10^12 is noise in the
    12th decimal; ordering of ranks matches float PageRank on every
    tested graph. Same superstep plan shape as `pagerank`: one shuffle
    per round, localCheckpoint lineage cuts, driver sees no per-node data.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    return _pagerank_int_loop(
        _with_unit_weight(e), None, n_iter, scale, damping_num, damping_den,
        "pagerank_int",
    )


def kcore(
    edges: DataFrame,
    k: int,
    n_rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    broadcast_max_nodes: int = 5_000_000,
) -> DataFrame:
    """Bounded-round k-core peel: repeatedly drop nodes with degree < k
    (each removal lowers neighbors' degrees — the cascade), then report
    the surviving nodes with their in-core degrees. With enough rounds
    the fixpoint IS the exact k-core (Matula-Beck 1983 peeling); the
    FIXED round count makes the whole computation closed-form — pure
    integer counting, so it hash-matches an unrolled SQL oracle exactly
    (the audit-grade form, like pagerank_int's fixed supersteps).

    Scale shape per round: one groupBy shuffle over (node) degree
    counting — map-side combined, so the exchange carries O(nodes) not
    O(edges) — plus two left-semi joins filtering the edge list against
    the survivor set (broadcast when the survivor set is small, AQE
    picks). Edges never widen; node payloads never exist. Rounds halve
    the frontier geometrically on real graphs — peel depth beyond a few
    rounds means a near-threshold core, which the bounded form surfaces
    as "not yet converged" rather than looping unboundedly on a driver
    fixpoint test.

    Output: (node, deg) for nodes whose degree within the final edge set
    is still >= k.

    Materialization discipline: a fully lazy chain re-executes the
    upstream edge build ~3^rounds times (each round references the
    previous edge set three times — measured 395s vs 9s at sf0.01), but
    checkpointing the EDGE LIST per round is superlinear at scale too
    (10.2x on a 10x step at sf1: rounds x full-edge materializations).
    The fix is structural: survivor sets shrink monotonically
    (alive_i ⊆ alive_{i-1} — a node outside alive_{i-1} has no edges in
    e_i, hence degree 0 < k in every later round), so
    e_i = e_0 ⋉ alive_{i-1}² and only the NODE-sized survivor set needs
    materializing per round; the edge list is checkpointed once and
    re-filtered against the (broadcastable) latest survivors.
    """
    e0 = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint()

    def degrees(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("u").alias("n"))
            .unionAll(ed.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("deg"))
        )

    # Survivor-join strategy, measured per round (r11, guide §3.1): the
    # survivor set is already eagerly checkpointed each round, so counting
    # it reads materialized blocks — essentially free — and the count picks
    # the join deliberately instead of leaving it to AQE's estimates (which
    # planned SortMergeJoins here: 4 SMJs sorting the EDGE list per peel).
    # Small survivor sets broadcast (the edge list is never shuffled at
    # all); past the broadcast ceiling a shuffle_hash hint builds on the
    # node-sized survivor set per partition — either way the peel sorts
    # nothing.
    def restrict(alive_now: DataFrame, n_alive: int) -> DataFrame:
        au = alive_now.withColumnRenamed("n", "u")
        av = alive_now.withColumnRenamed("n", "v")
        if n_alive <= broadcast_max_nodes:
            au, av = F.broadcast(au), F.broadcast(av)
        else:
            au, av = au.hint("shuffle_hash"), av.hint("shuffle_hash")
        return e0.join(au, "u", "left_semi").join(av, "v", "left_semi")

    alive: DataFrame | None = None
    n_alive = 0
    for _ in range(n_rounds):
        e = e0 if alive is None else restrict(alive, n_alive)
        alive = (
            degrees(e).filter(F.col("deg") >= k).select("n").localCheckpoint()
        )
        n_alive = alive.count()  # cheap: counts the checkpointed blocks
    return (
        degrees(restrict(alive, n_alive))
        .filter(F.col("deg") >= k)
        .select(F.col("n").alias("node"), F.col("deg").cast("bigint").alias("deg"))
    )


def label_propagation(
    edges: DataFrame,
    n_rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan 2007) with a DETERMINISTIC
    tie-break: every node starts labeled with its own id; each round it
    adopts the most frequent label among its neighbors, ties going to the
    smallest label. The fixed round count plus the total tie order makes
    the whole computation closed-form — pure integer counting, so the
    (node, label) fixpoint hash-matches an unrolled SQL oracle exactly,
    the same audit-grade discipline as pagerank_int/kcore. Communities
    complete the graph-curation toolkit: pagerank ranks influence,
    triangles/k-core measure density, CC gives reachability, LPA gives
    COMMUNITIES (e.g. topical clusters in a co-occurrence graph) without
    any modularity float-optimization.

    Scale shape per round: one groupBy shuffle on (node, label) counting
    neighbor votes — map-side combined, exchange carries O(distinct
    (node,label)) not O(edges) — then an argmax reduce keyed on node via
    max(struct(count, -label)) (no window function, no second sort). The
    adjacency list is built once and localCheckpoint-ed; labels (node-
    sized) are the only per-round materialization, exactly the kcore
    discipline (a lazy chain re-executes the upstream edge build
    exponentially in round count).
    """
    nbr = (
        edges.select(F.col(src).alias("n"), F.col(dst).alias("nbr"))
        .unionAll(edges.select(F.col(dst).alias("n"), F.col(src).alias("nbr")))
        .localCheckpoint()
    )
    labels = nbr.select(F.col("n")).distinct().withColumn("label", F.col("n"))
    for _ in range(n_rounds):
        votes = (
            nbr.join(
                labels.select(F.col("n").alias("nbr"), "label"), "nbr"
            )
            .groupBy("n", "label")
            .agg(F.count("*").alias("c"))
        )
        labels = (
            votes.groupBy("n")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("neg_label"))
                ).alias("best")
            )
            .select("n", (-F.col("best.neg_label")).alias("label"))
            .localCheckpoint()
        )
    return labels.select(
        F.col("n").alias("node"), F.col("label").cast("bigint").alias("label")
    )


def link_predict_common_neighbors(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 20,
    max_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor / Jaccard link prediction (Liben-Nowell & Kleinberg
    2003): score every UNLINKED node pair by how many neighbors it shares,
    return the global top-k — the classic "customers also bought"
    recommender over a co-occurrence graph.

    Plan: canonical undirected edges → full adjacency (both directions) →
    wedge self-join on the center node, hub-gate-SALTED exactly like
    `triangle_count`'s merge mode (only measured hub centers ≥ 1024
    degree pay the 16× salt replication — a capped graph skips the salt
    entirely since max_degree bounds every center's fan-out; the wedge
    exchange width is pinned because AQE sizes it from the deceptively
    tiny adjacency input) → map-side combinable pair count → LEFT-ANTI
    against the edge set (only unlinked pairs are predictions) → degree
    join → one TakeOrderedAndProject; every join shuffle_hash-hinted so
    the quadratic stream is never sorted.

    jaccard = common / (deg_u + deg_v - common): bigint operands, ONE
    IEEE division — exact cross-engine.

    Scale: wedge cost is Σ_c deg(c)² — unlike triangles there is no
    orientation trick (a common neighbor ORDERED ABOVE an endpoint still
    counts), so the 100 TB knob is `max_degree`: drop hub centers above
    the cap before wedging (standard super-node exclusion; biases scores
    only for celebrity nodes, which co-occurrence recommenders exclude
    anyway). Default None = exact.
    """
    und = _canonical_undirected(edges, src, dst)
    # The canonical edge list feeds FOUR consumers (both adjacency
    # directions, the degree agg, and the anti-join); materialize it once
    # so the possibly-expensive upstream edge derivation doesn't re-run
    # per consumer. Lazy (r11): the blocks materialize at the first action,
    # but under AQE creating the checkpoint runs the shuffle stages below
    # it (4 jobs at sf0.001).
    und = und.localCheckpoint(eager=False)
    adj = _adjacency(und)
    deg = adj.groupBy("n").agg(F.count("*").alias("d"))
    centers = adj
    if max_degree is not None:
        centers = adj.join(
            F.broadcast(deg.where(F.col("d") > max_degree)), "n", "left_anti"
        )
    n_salts = 16
    # r11: uniform 16× salt replication (every center paid 17×|adj| rows
    # through the wedge exchange, hub or not) replaced by the triangle-
    # count merge-mode discipline — the frequency gate expressed INSIDE
    # one join so the quadratic join→filter→partial-agg pipeline stays a
    # single fused codegen span (the two-branch union variant measured
    # 39% slower at sf1 on the wedge tier despite 10× less shuffle).
    # hub_min_deg = 1024 is an absolute per-key output bound (≈0.5M wedge
    # rows per center), independent of cluster and data size.
    hub_min_deg = 1024
    n_wedge_parts = max(
        64, int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    )
    w1 = centers.select(F.col("n").alias("c"), F.col("nb").alias("x"))
    w2 = centers.select(F.col("n").alias("c"), F.col("nb").alias("y"))
    if max_degree is not None and max_degree < hub_min_deg:
        # The caller's degree cap already bounds every center's fan-out
        # (≤ max_degree² wedge rows per center), so no hub can exist and
        # the salt has nothing to break: one unsalted shuffled-hash join
        # ships 2×|adj| rows instead of 17×|adj|.
        wedges = (
            w1.repartition(n_wedge_parts, "c")
            .hint("shuffle_hash")
            .join(w2, ["c"])
            .where(F.col("x") < F.col("y"))
        )
    else:
        # Exact (uncapped) mode: per-center salt-space width _ns — 16 for
        # measured hubs (degree ≥ hub_min_deg, one broadcastable filter
        # over the degree agg), 1 for the tail. The probe salts by
        # pmod(hash(x), _ns) (constant 0 for tails), the build replicates
        # each row _ns× via explode(sequence(0, _ns-1)); salt key spaces
        # are disjoint by center, so the single (c, _salt) join emits
        # exactly the uniform-salt multiset.
        hubs = F.broadcast(
            deg.where(F.col("d") >= hub_min_deg)
            .select(F.col("n").alias("c"), F.lit(n_salts).alias("_ns"))
        )
        w1 = (
            w1.join(hubs, "c", "left")
            .withColumn(
                "_salt", F.pmod(F.hash("x"), F.coalesce(F.col("_ns"), F.lit(1)))
            )
            .drop("_ns")
        )
        w2 = (
            w2.join(hubs, "c", "left")
            .withColumn(
                "_salt",
                F.explode(
                    F.sequence(F.lit(0), F.coalesce(F.col("_ns"), F.lit(1)) - 1)
                ),
            )
            .drop("_ns")
        )
        wedges = (
            w1.repartition(n_wedge_parts, "c", "_salt")
            .hint("shuffle_hash")
            .join(w2, ["c", "_salt"])
            .where(F.col("x") < F.col("y"))
        )
    cn = wedges.groupBy("x", "y").agg(F.count("*").cast("long").alias("common"))
    cand = cn.join(
        und.select(F.col("u").alias("x"), F.col("v").alias("y")).hint(
            "shuffle_hash"
        ),
        ["x", "y"],
        "left_anti",
    )
    dx = deg.select(F.col("n").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("n").alias("y"), F.col("d").alias("dy"))
    scored = (
        cand.join(dx.hint("shuffle_hash"), "x")
        .join(dy.hint("shuffle_hash"), "y")
        .select(
            F.col("x").alias("u"),
            F.col("y").alias("v"),
            "common",
            (
                F.col("common")
                / (F.col("dx") + F.col("dy") - F.col("common"))
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("common"), F.desc("jaccard"), "u", "v"
    ).limit(k)


def khop_distances(
    edges: DataFrame,
    sources: DataFrame,
    n_rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Bounded-round BFS from a source set: (node, dist) for every node
    reachable within `n_rounds` hops, dist = exact shortest hop count —
    k-hop reachability / expansion analysis (blast radius of a bad
    document through its near-dup graph, catalog distance in a
    co-purchase graph).

    FRONTIER form, not dense relaxation: each round expands only the
    nodes discovered last round (one keyed join frontier×adjacency + one
    LEFT-ANTI against the settled set), so total work is O(Σ frontier
    edges) — the BSP BFS (Pregel's canonical example). Per-round
    localCheckpoint cuts lineage (O(1) plan per round, same discipline
    as pagerank/kcore). BFS layers make `dist` exact by construction;
    the fixed round count keeps the whole computation closed-form for
    the SQL oracle (depth-capped recursive CTE).

    `sources` is a 1-column frame of start nodes (deduped here).
    """
    und = _canonical_undirected(edges, src, dst)
    adj = _adjacency(und).localCheckpoint()
    frontier = (
        sources.select(F.col(sources.columns[0]).alias(node_col))
        .distinct()
        .select(node_col, F.lit(0).cast("bigint").alias("dist"))
        .localCheckpoint()
    )
    dist = frontier
    for r in range(1, n_rounds + 1):
        cand = (
            frontier.join(adj, frontier[node_col] == adj["n"])
            .select(F.col("nb").alias(node_col))
            .distinct()
        )
        frontier = (
            cand.join(dist, node_col, "left_anti")
            .select(node_col, F.lit(r).cast("bigint").alias("dist"))
            .localCheckpoint()
        )
        dist = dist.union(frontier)
    return dist


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_n: int = 100,
    broadcast_max_edges: int = 5_000_000,
) -> DataFrame:
    """Local clustering coefficient for the ``top_n`` highest-degree nodes:
    coeff(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — how close v's neighborhood
    is to a clique, the standard community-structure probe next to the
    global triangle count.

    Same degree-ordered wedge machinery as triangle_count (Suri &
    Vassilvitskii 2011), but the closing join RETAINS the triangle's
    corner identities (s, t1, t2) instead of collapsing to a count: each
    closed wedge credits one triangle to all three corners via a 3-way
    projection union, then one per-node aggregate. Salted wedge join +
    pinned exchange width, per the triangle-count AQE lesson.

    Scale: wedge work is the same Θ(m^1.5) bound as the exact count —
    run it on a DOULION-sampled edge set when the full graph is too big
    (coefficients on a p-sampled graph concentrate for deg·p ≫ 1). The
    top-n cut is a TakeOrdered, never a global sort.
    """
    und = _canonical_undirected(edges, src, dst)
    # one materialization: degrees, orientation, wedges, closing set and
    # the final degree join all read these blocks (triangle-estimate
    # lesson: staying lazy re-derives the upstream per consumer). Eager
    # here (unlike the estimate) because the closing-join strategy choice
    # below needs the edge count — the same trade triangle_count's "auto"
    # makes.
    und = und.localCheckpoint()
    m = und.count()
    deg, _oriented, wedges, closing = _degree_oriented_wedges(
        und, broadcast_wedges=(m <= broadcast_max_edges)
    )
    # closing strategy by measured edge count (the triangle_count trade):
    # small graphs broadcast the closing set (the wedge stream flows
    # through a broadcast semi-join, no exchange, no sort — 2x faster at
    # sf0.1); past the broadcast ceiling a shuffle_hash hint keeps the
    # default SMJ from SORTING the quadratic wedge stream (the hash join
    # builds on the linear edge set instead — 409s → ~150s at sf1)
    close = (
        F.broadcast(closing)
        if m <= broadcast_max_edges
        else closing.hint("shuffle_hash")
    )
    triangles = wedges.select(
        "s",
        F.least("t1", "t2").alias("c1"),
        F.greatest("t1", "t2").alias("c2"),
    ).join(close, ["c1", "c2"], "left_semi")
    # per-corner credit in ONE pass: explode each closed triangle into its
    # three corners (narrow) and aggregate once — a 3-way union of
    # projections would re-run the closing join three times (measured
    # 409s → 147s at sf1)
    per_node = (
        triangles.select(
            F.explode(F.array(F.col("s"), F.col("c1"), F.col("c2"))).alias("n")
        )
        .groupBy("n")
        .agg(F.count("*").alias("n_triangles"))
    )
    out = (
        deg.join(per_node, "n", "left")
        .select(
            F.col("n").alias("node"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("d") >= 2,
                F.round(
                    F.lit(2.0)
                    * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
                    / (F.col("d").cast("double") * (F.col("d").cast("double") - 1.0)),
                    4,
                ),
            ).alias("coeff"),
        )
    )
    return out.orderBy(F.desc("degree"), "node").limit(top_n)


def khop_distances_labeled(
    edges: DataFrame,
    sources: DataFrame,
    n_rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-SEED bounded BFS: (seed, node, dist) for every (seed, node)
    pair within ``n_rounds`` hops — the labeled variant of
    khop_distances (which collapses the source set to one frontier).
    Powers per-seed centralities (harmonic/closeness within a horizon)
    and per-seed blast-radius reports.

    Frontier form per seed simultaneously: the frontier carries the seed
    label, so one keyed join expands every seed's frontier in the same
    round; work is O(Σ_seeds Σ frontier edges) — the multi-source BSP
    BFS. Per-round localCheckpoint cuts lineage.
    """
    und = _canonical_undirected(edges, src, dst)
    adj = _adjacency(und).localCheckpoint()
    frontier = (
        sources.select(F.col(sources.columns[0]).alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"), F.lit(0).cast("bigint").alias("dist"))
        .localCheckpoint()
    )
    settled = frontier
    for depth in range(1, n_rounds + 1):
        nxt = (
            frontier.join(adj, frontier.node == adj.n)
            .select("seed", F.col("nb").alias("node"))
            .distinct()
            .join(settled.select("seed", "node"), ["seed", "node"], "left_anti")
            .select("seed", "node", F.lit(depth).cast("bigint").alias("dist"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        settled = settled.union(nxt).localCheckpoint()
        frontier = nxt
    return settled
