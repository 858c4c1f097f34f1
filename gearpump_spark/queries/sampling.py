"""Deterministic sampling / splitting / mixing queries (training-data
pipeline surface — beyond the reference, which has no sampling at all).

Every operator here is keyed md5-hash sampling (operators/sampling.py,
over the hash family of functions/hash.py), so
membership is bit-identical across engines and every query has an exact
DuckDB oracle. At scale these are scan-local filters: no shuffle, full
pushdown, reproducible splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gearpump_spark.datasets import table
from gearpump_spark.functions import hash as H
from gearpump_spark.functions import text as TX
from gearpump_spark.operators import sampling as SP
from gearpump_spark.queries import register


@register(
    "sample_hash_10pct",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {SP.sql_hash_bucket()} < 1000
    ORDER BY doc_id
    """,
    desc="deterministic 10% sample by key hash — scan-local, shuffle-free, "
    "bit-identical membership across engines",
)
def sample_hash_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return SP.hash_sample(docs, "doc_id", rate_bp=1000).select("doc_id", "lang").orderBy(
        "doc_id"
    )


@register(
    "sample_train_test_split",
    oracle=f"""
    SELECT lang,
           CASE WHEN {SP.sql_hash_bucket()} < 1000
                THEN 'test' ELSE 'train' END AS split,
           COUNT(*) AS n
    FROM documents GROUP BY 1, 2 ORDER BY lang, split
    """,
    desc="key-stable train/test split (10% test): same doc lands on the same "
    "side across reruns and engines — no leakage",
)
def sample_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = SP.train_test_split(table(spark, sf_dir, "documents"), "doc_id", test_bp=1000)
    return docs.groupBy("lang", "split").agg(F.count("*").alias("n")).orderBy("lang", "split")


_MIX_RATES = {"en": 5000, "de": 2500, "fr": 1000}


@register(
    "sample_stratified_mix",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {SP.sql_hash_bucket()} <
          CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 WHEN 'fr' THEN 1000
                    ELSE -1 END
    ORDER BY doc_id
    """,
    desc="stratified source mixing: per-language sampling rates (en 50% / "
    "de 25% / fr 10%, others dropped) in one scan-local predicate",
)
def sample_stratified_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        SP.stratified_hash_sample(docs, "lang", "doc_id", _MIX_RATES)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "sample_temperature_mix",
    oracle=f"""
    WITH totals AS (
        SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS w
        FROM documents GROUP BY source),
    rates AS (
        SELECT source,
               CAST(FLOOR(10000.0 * SQRT((SELECT MIN(w) FROM totals) / w)) AS BIGINT)
                 AS rate_bp
        FROM totals)
    SELECT d.doc_id, d.source FROM documents d
    JOIN rates r ON d.source = r.source
    WHERE {SP.sql_hash_bucket("d.doc_id")} < r.rate_bp
    ORDER BY d.doc_id
    """,
    desc="temperature mixing (alpha=0.5): per-source rates computed from the "
    "char mass so kept mass ∝ sqrt(source size) — rates exact cross-engine "
    "(sqrt/div are correctly rounded), membership by hash bucket",
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate table is a tiny broadcast; the corpus never shuffles."""
    docs = table(spark, sf_dir, "documents")
    return (
        SP.temperature_mix(docs, "source", "doc_id", "n_chars", alpha=0.5)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@register(
    "sample_bottom_k",
    oracle=f"""
    SELECT doc_id FROM (
        SELECT doc_id FROM documents
        ORDER BY {H.sql_seeded_md5("doc_id", 0)} LIMIT 64)
    ORDER BY doc_id
    """,
    desc="fixed-size (k=64) uniform sample = bottom-k by key hash; Spark "
    "plans it as per-partition TakeOrdered, never a global sort",
)
def sample_bottom_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return SP.bottom_k_sample(docs, "doc_id", k=64).select("doc_id").orderBy("doc_id")


@register(
    "pipeline_quality_dedup_sample",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, text,
               LEAST(CAST(LEN(tk) AS DOUBLE) / 20.0, 1.0)
               * GREATEST(1.0 - (CAST(LENGTH(REGEXP_REPLACE(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
                                 / GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0)) * 10.0, 0.0)
               * (CASE WHEN LEN(LIST_FILTER(LIST_TRANSFORM(tk, w -> LOWER(w)),
                            w -> w IN ('the','a','of','and','to','in','is'))) > 0
                       THEN 1.0 ELSE 0.5 END) AS quality
        FROM (SELECT doc_id, lang, text,
                     {TX.sql_tokens()} AS tk
              FROM documents)),
    kept AS (SELECT doc_id, lang, text FROM scored WHERE quality >= 0.5),
    deduped AS (
        SELECT MIN(doc_id) AS doc_id, MIN(lang) AS lang
        FROM kept
        GROUP BY {H.sql_fingerprint()}),
    sampled AS (
        SELECT doc_id, lang FROM deduped
        WHERE {SP.sql_hash_bucket()} < 5000)
    SELECT lang, COUNT(*) AS n_docs FROM sampled GROUP BY lang ORDER BY lang
    """,
    desc="end-to-end curation pipeline: quality filter → exact dedup (keep "
    "min doc_id) → 50% deterministic sample → per-language counts",
)
def pipeline_quality_dedup_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed shape a real curation job has. At 100 TB: the quality
    filter is scan-local, dedup shuffles only (fp, doc_id, lang), and the
    sample filter runs before the final count shuffle."""
    docs = table(spark, sf_dir, "documents")
    kept = docs.where(TX.quality_score(F.col("text")) >= 0.5)
    deduped = kept.groupBy(H.fingerprint(F.col("text")).alias("fp")).agg(
        F.min("doc_id").alias("doc_id"), F.min("lang").alias("lang")
    )
    sampled = SP.hash_sample(deduped, "doc_id", rate_bp=5000)
    return sampled.groupBy("lang").agg(F.count("*").alias("n_docs")).orderBy("lang")


@register(
    "sample_k_per_group",
    oracle=f"""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY {H.sql_seeded_md5("doc_id", 0)}) AS rn
        FROM documents)
    WHERE rn <= 8
    ORDER BY doc_id
    """,
    desc="balanced per-class sample: 8 docs per language by hash order — "
    "one window pass, deterministic membership",
)
def sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        SP.k_per_group_sample(docs, "lang", "doc_id", k=8)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "sample_epochs_mix",
    oracle=f"""
    SELECT doc_id, lang, UNNEST(RANGE(0,
           CASE WHEN {SP.sql_hash_bucket()} < 5000
                THEN 3 ELSE 2 END)) AS copy
    FROM documents
    ORDER BY doc_id, copy
    """,
    desc="fractional-epoch oversampling (2.5 epochs): whole copies + a "
    "deterministic hash-sampled extra copy, scan-local",
)
def sample_epochs_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        SP.epochs_sample(docs, "doc_id", epochs_bp=25000)
        .select("doc_id", "lang", "copy")
        .orderBy("doc_id", "copy")
    )


@register(
    "sample_pack_sequences",
    oracle=f"""
    WITH ordered AS (
        SELECT doc_id, n_chars,
               COALESCE(SUM(n_chars) OVER (ORDER BY {H.sql_seeded_md5("doc_id", 0)}, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        FROM documents)
    SELECT doc_id, n_chars, CAST(FLOOR(before / 4096) AS BIGINT) AS bin_id
    FROM ordered ORDER BY doc_id
    """,
    desc="deterministic sequence packing: hash-shuffled contiguous fill into "
    "4096-char bins via one running-sum window pass",
)
def sample_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        SP.pack_sequences(docs, "doc_id", "n_chars", budget=4096)
        .select("doc_id", "n_chars", "bin_id")
        .orderBy("doc_id")
    )


@register(
    "sample_shuffle_order",
    oracle=f"""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY {H.sql_seeded_md5("doc_id", 7)}, doc_id) AS BIGINT) - 1
             AS position
    FROM documents ORDER BY doc_id
    """,
    desc="deterministic epoch shuffle: training positions from seeded hash "
    "rank — same permutation on every engine/run, reseed for a new epoch",
)
def sample_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return SP.global_shuffle_order(docs, "doc_id", seed=7).orderBy("doc_id")


_SQL_PRI = (
    "CAST(n_chars AS DOUBLE) * 1152921504606846976.0 / CAST("
    + H.sql_hash15("doc_id", 3)
    + " + 1 AS DOUBLE)"
)


@register(
    "sample_weighted_priority",
    oracle=f"""
    WITH pr AS (
        SELECT doc_id, CAST(n_chars AS DOUBLE) AS w, {_SQL_PRI} AS priority
        FROM documents),
    top AS (SELECT * FROM pr ORDER BY priority DESC, doc_id LIMIT 101),
    ranked AS (
        SELECT doc_id, w, priority,
               ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rn,
               CASE WHEN COUNT(*) OVER () > 100
                    THEN MIN(priority) OVER () ELSE 0.0 END AS tau
        FROM top)
    SELECT doc_id, w, priority, GREATEST(w, tau) AS w_est
    FROM ranked WHERE rn <= 100 ORDER BY doc_id
    """,
    desc="priority sampling (Duffield-Lund-Thorup): 100-row weighted sample "
    "without replacement with unbiased tau-adjusted subset-sum estimates; "
    "IEEE-exact */ only, so the oracle reproduces it bit-for-bit",
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return SP.priority_sample(docs, "doc_id", "n_chars", k=100, seed=3).orderBy(
        "doc_id"
    )


@register(
    "sample_negative_pairs",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1 AS r
        FROM (SELECT doc_id,
                     {H.sql_hash15("doc_id", 0)} AS h
              FROM documents)),
    n AS (SELECT COUNT(*) AS cnt FROM ranked),
    anchors AS (
        SELECT a.doc_id AS anchor_id, CAST(j.j AS BIGINT) AS j,
               (a.r + j.j * 7919) % n.cnt AS nr
        FROM ranked a CROSS JOIN n CROSS JOIN (SELECT UNNEST([1, 2]) AS j) j)
    SELECT anchor_id, b.doc_id AS neg_id, j
    FROM anchors JOIN ranked b ON b.r = anchors.nr
    WHERE b.doc_id <> anchor_id
    ORDER BY anchor_id, j
    """,
    desc="deterministic contrastive negatives: 2 pseudo-random partners "
    "per document via hash-permutation ranking + fixed-stride rank "
    "pairing — uniform-looking negatives that are bit-identical across "
    "engines/runs/partitionings (auditable embedding-training pairs, "
    "which IEEE-random sampling can never give)",
)
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/sampling.py negative_pairs: one range-sort over (key,
    hash) pairs to rank, one explode, one equi-join on rank — payloads
    never move. Self-pairs dropped (closed-form, oracle-mirrored)."""
    docs = table(spark, sf_dir, "documents")
    return SP.negative_pairs(docs.select("doc_id"), "doc_id", k=2, seed=0).orderBy(
        "anchor_id", "j"
    )


@register(
    "sample_unimax_mix",
    oracle="""
    WITH c AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS tokens
        FROM documents GROUP BY source),
    t AS (
        SELECT *,
               CAST(ROW_NUMBER() OVER (ORDER BY tokens, source) AS BIGINT) AS rn,
               COALESCE(SUM(tokens) OVER (ORDER BY tokens, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumbefore,
               CAST(COUNT(*) OVER () AS BIGINT) AS n,
               SUM(tokens) OVER () AS total
        FROM c),
    p AS (
        SELECT *, CAST(FLOOR(0.85 * CAST(total AS DOUBLE)) AS BIGINT) AS B
        FROM t),
    f AS (
        SELECT *, tokens * 1 * (n - rn + 1) <= B - 1 * cumbefore AS capped
        FROM p),
    g AS (
        SELECT *,
               SUM(CASE WHEN capped THEN tokens ELSE 0 END) OVER () AS cap_c,
               SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS n_cap
        FROM f),
    q AS (
        SELECT source, tokens, capped,
               CASE WHEN capped THEN CAST(tokens * 1 AS DOUBLE)
                    ELSE CAST(B - 1 * cap_c AS DOUBLE) / (n - n_cap)
               END AS quota
        FROM g)
    SELECT source, tokens, capped, quota, quota / tokens AS epochs
    FROM q ORDER BY source
    """,
    desc="UniMax budget allocation (Chung 2023): distribute 85% of the "
    "corpus token mass across sources with a 1-epoch cap — capped "
    "sources contribute everything, the rest share the leftover "
    "EQUALLY; the paper's sequential greedy solved in closed water-"
    "filling form (cap-binding is prefix-monotone in size order), so "
    "two windows over per-source totals replace the recursion and the "
    "shared quota is one IEEE division — exact cross-engine",
)
def sample_unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/sampling.py unimax_allocation: corpus touches one
    map-side-combinable groupBy(source); windows run on n_sources rows.
    Feed `epochs` into hash_bucket to materialize the mixture."""
    docs = table(spark, sf_dir, "documents")
    return SP.unimax_allocation(
        docs, "source", "n_chars", budget_frac=0.85, max_epochs=1
    ).orderBy("source")


# ---------------------------------------------------------------------------
# r5 addition: weighted reservoir sampling (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------


@register(
    "sample_weighted_reservoir",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               -LN((CAST({H.sql_hash15("doc_id", 31)} AS DOUBLE) + 1.0)
                   / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS k
        FROM documents WHERE n_chars > 0),
    ranked AS (
        SELECT doc_id, source, n_chars,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY k, doc_id) AS BIGINT) AS rank
        FROM keyed)
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight, rank
    FROM ranked WHERE rank <= 20 ORDER BY source, rank
    """,
    desc="weighted reservoir sample without replacement (Efraimidis-"
    "Spirakis 2006): priority -ln(u)/w from the seeded-md5 uniform, "
    "k smallest per source win — inclusion probability proportional to "
    "weight (n_chars), one pass, any stream order; the sampled IDs are "
    "deterministic so the draw itself is oracle-checked (the float key "
    "stays internal — only ids/ranks are emitted)",
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One keyed shuffle (per-source top-k window). At scale the window
    is a TakeOrdered per group — executors keep a 20-row heap, never the
    full partition. The exponential-race key means merging two reservoirs
    is just 'keep the 20 smallest keys of the union', the mergeability
    that makes this THE distributed weighted sampler."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (H.hash15(F.col("doc_id"), 31).cast("double") + F.lit(1.0)) / F.lit(
        float(1 << 60)
    )
    k = -F.log(u) / F.col("n_chars").cast("double")
    w = Window.partitionBy("source").orderBy("k", "doc_id")
    return (
        docs.select("doc_id", "source", "n_chars", k.alias("k"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 20)
        .select(
            "doc_id", "source", F.col("n_chars").cast("bigint").alias("weight"), "rank"
        )
        .orderBy("source", "rank")
    )


# Poisson(1) inverse-CDF thresholds, pre-scaled to the hash family's 2^60
# range: weight k when (h15 + 1) <= floor(CDF(k) * 2^60). Pure integer
# comparison — no exp/float anywhere in EITHER engine's plan, so the
# bootstrap weights are hash-exact by construction (the thresholds are the
# only place e^-1 appears, computed once at authoring time).
_POISSON1_T60 = [
    424136118829305344,   # P(X<=0) = 0.36787944117144233
    848272237658610688,   # P(X<=1) = 0.7357588823428847
    1060340297073263360,  # P(X<=2) = 0.9196986029286058
    1131029650211480960,  # P(X<=3) = 0.9810118431238463
    1148701988496035328,  # P(X<=4) = 0.9963401531726563
    1152236456152946176,  # P(X<=5) = 0.9994058151824183
]


def _sql_poisson_w(h: str) -> str:
    cases = " ".join(
        f"WHEN ({h}) + 1 <= {t} THEN {k}" for k, t in enumerate(_POISSON1_T60)
    )
    return f"CASE {cases} ELSE 6 END"


@register(
    "sample_poisson_bootstrap",
    oracle=f"""
    WITH reps AS (SELECT UNNEST(RANGE(0, 10)) AS rep),
    w AS (
        SELECT rep, doc_id, n_chars,
               {_sql_poisson_w(H.sql_hash15("doc_id", "CAST(100 + rep AS VARCHAR)"))} AS w
        FROM documents, reps)
    SELECT CAST(rep AS BIGINT) AS rep,
           CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS total_weight,
           CAST(SUM(w * n_chars) AS BIGINT) AS weighted_chars
    FROM w GROUP BY rep ORDER BY rep
    """,
    desc="deterministic Poisson(1) bootstrap: 10 resampling replicates "
    "per corpus, each document's replicate weight drawn by inverse-CDF "
    "over the seeded-md5 uniform with PRE-SCALED INTEGER thresholds "
    "(floor(CDF*2^60)) — the online-bootstrap trick (Oza & Russell "
    "2001) that replaces with-replacement resampling at stream scale, "
    "made bit-reproducible: no exp()/float appears in either engine; "
    "per-replicate doc counts, weights, and weighted token mass feed "
    "metric confidence intervals",
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One narrow map per replicate (the replicate axis is a 10-element
    explode — data scans ONCE, weights are scan-local expressions), one
    map-side-combinable aggregate; at 100 TB this is the only bootstrap
    that doesn't shuffle the corpus."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    reps = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.array(*[F.lit(r) for r in range(10)])).alias("rep"),
    )
    # seed = 100 + rep varies per row: a column seed
    hexpr = H.hash15(F.col("doc_id"), F.lit(100) + F.col("rep"))
    w = F.lit(6)
    for k in reversed(range(6)):
        w = F.when(hexpr + 1 <= _POISSON1_T60[k], F.lit(k)).otherwise(w)
    return (
        reps.withColumn("w", w)
        .groupBy("rep")
        .agg(
            F.sum(F.when(F.col("w") > 0, 1).otherwise(0)).cast("bigint").alias("n_docs"),
            F.sum("w").cast("bigint").alias("total_weight"),
            F.sum(F.col("w") * F.col("n_chars")).cast("bigint").alias("weighted_chars"),
        )
        .select(F.col("rep").cast("bigint").alias("rep"), "n_docs", "total_weight", "weighted_chars")
        .orderBy("rep")
    )
