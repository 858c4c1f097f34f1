"""Deduplication operators for large-scale document corpora.

Four tiers, all pure DataFrame expressions (no Python UDFs — everything
stays inside whole-stage codegen):

- exact_dedup          — fingerprint (normalized md5) + groupBy
- minhash_signatures   — k-permutation MinHash over word shingles
- lsh_candidate_pairs  — banded LSH join on the signatures
- ngram_jaccard_pairs  — exact n-gram Jaccard (verification / small-side)

Cross-engine determinism: the hash family is md5 over seed-prefixed
shingles (functions/hash.py, identical in Spark and DuckDB), not
engine-private hash functions, so every step is oracle-checkable.

Scale notes: MinHash+LSH is the 100 TB path — cost is O(total shingles)
plus a shuffle keyed by (band, band_hash); exact Jaccard is O(pairs) and
reserved for candidate verification. This mirrors the standard
shingle→minhash→band→bucket-join pipeline (Broder 1997; Leskovec et al.,
Mining of Massive Datasets ch. 3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gearpump_spark.functions import hash as H
from gearpump_spark.functions.text import (
    lower_tokens,
    ngrams,
    normalize_text,
    normalized_words,
)


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: one row per distinct normalized text, keeping the
    smallest id (deterministic, unlike dropDuplicates' arbitrary winner).

    Scale: a single hash shuffle keyed by the 128-bit fingerprint — the
    full text never shuffles, only (fingerprint, id).
    """
    return (
        docs.select(F.col(id_col), H.fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle array, JVM-side (no UDF): `ngrams` over the
    `normalized_words` of ``text``."""
    norm = normalize_text(text)
    ws = normalized_words(text)
    # Short docs (< n words) have no n-grams; emit the whole normalized
    # text as their single shingle so they still participate in MinHash/
    # Jaccard — short near-identical docs are the most duplicate-prone
    # class, and silently dropping them breaks recall. DuckDB mirror:
    # CASE WHEN LEN(ws) < n THEN [ARRAY_TO_STRING(ws, ' ')] ELSE ... END.
    return F.when(F.size(ws) < n, F.array(norm)).otherwise(ngrams(ws, n))


def minhash_signatures_from_shingles(
    sh: DataFrame, id_col: str = "doc_id", k: int = 6
) -> DataFrame:
    """Per-document MinHash signature from an exploded (id, shingle)
    relation. MIN is duplicate-insensitive, so a distinct shingle set and
    the raw multiset give identical signatures — callers that already
    materialized a shingle relation (dedup_lsh_recall's ground-truth leg)
    reuse it instead of re-tokenizing the corpus."""
    return sh.groupBy(id_col).agg(*H.minhash_signature(F.col("shingle"), k))


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 6, shingle_n: int = 3
) -> DataFrame:
    """Per-document MinHash signature (columns h0..h{k-1}).

    Scale: explode is map-side; the only shuffle is the groupBy on doc id,
    carrying k×32-byte partial minima per doc (map-side combined).
    """
    sh = docs.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle")
    )
    return minhash_signatures_from_shingles(sh, id_col, k)


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str = "doc_id", k: int = 6, rows_per_band: int = 2
) -> DataFrame:
    """Banded LSH: docs agreeing on all rows of any band become a candidate
    pair (a < b). Returns distinct (a, b).

    Scale: the self-join is keyed on (band_idx, band_key) — a hash shuffle
    whose fan-out is bounded by bucket sizes, never all-pairs. Hot buckets
    (boilerplate docs) are the classic skew case → AQE skew-join splits
    them.
    """
    if rows_per_band < 1 or k % rows_per_band != 0:
        raise ValueError(
            f"rows_per_band={rows_per_band} must divide k={k}: a remainder "
            "would silently waste hash columns (or band nothing at all)"
        )
    n_bands = k // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"), H.band_key(b, rows_per_band).alias("band_key")
            )
            for b in range(n_bands)
        ]
    )
    keyed = signatures.select(F.col(id_col), F.explode(bands).alias("band")).select(
        id_col, "band.band_idx", "band.band_key"
    )
    # The banded relation is BOTH sides of the self-join, and Spark does
    # not share a subtree across join inputs — every caller paid the full
    # upstream (tokenize + shingle explode + MinHash aggregate) twice.
    # Lazy localCheckpoint (r11, the wedge-tier discipline) materializes
    # the n_bands-rows-per-doc relation once; both join sides read the
    # blocks. eager=False defers the blocks to the first action, but under
    # AQE creating the checkpoint already runs the shuffle stages below it
    # (1-2 jobs at sf0.001).
    keyed = keyed.localCheckpoint(eager=False)
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("a"), F.col(f"b.{id_col}").alias("b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.05,
) -> DataFrame:
    """Exact n-gram Jaccard similarity of each query doc against the corpus
    via an inverted shingle index (join on shingle, never all-pairs).

    Returns (q_id, doc_id, jaccard) for pairs over the threshold.
    Scale: |result of the shingle join| = total co-occurrences, bounded by
    shingle document frequency; stop-shingle skew is AQE's problem. The
    query side is broadcast when small (the typical "dedup new batch
    against corpus" shape).
    """

    def shingle_set(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
        ).distinct()

    # The CORPUS shingle set feeds two consumers (size aggregate +
    # intersection join) and each re-derivation is a full corpus scan +
    # shingle explode + distinct — lazy localCheckpoint (r11 shared-
    # relation discipline). The query side also has two consumers but
    # re-derives from a pushed-filter scan of a handful of docs: cheaper
    # than checkpoint materialization scheduling (measured), so it stays
    # lazy.
    q = shingle_set(queries, "q_id")
    c = shingle_set(corpus, "c_id").localCheckpoint(eager=False)
    q_size = q.groupBy("q_id").agg(F.count("*").alias("q_n"))
    c_size = c.groupBy("c_id").agg(F.count("*").alias("c_n"))
    # Exclude only the self-pair: query and corpus ids are independent
    # namespaces (the "dedup new batch against corpus" shape), so an
    # ordering filter like q_id < c_id would silently drop every match
    # whose query id exceeds the corpus id.
    inter = (
        q.join(c, "shingle")
        .filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(F.broadcast(q_size), "q_id")
        .join(c_size, "c_id")
        .select(
            "q_id",
            "c_id",
            (
                F.col("inter").cast("double")
                / (F.col("q_n") + F.col("c_n") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.05,
) -> DataFrame:
    """ASYMMETRIC n-gram containment of each query doc in corpus docs:
    c(q→d) = |shingles(q) ∩ shingles(d)| / |shingles(q)|.

    Jaccard misses subsumption: a paragraph quoted verbatim inside a much
    longer page scores near-zero Jaccard (the union is huge) but
    containment 1.0 — the quote/boilerplate/excerpt detector curation
    pipelines run NEXT TO near-dup Jaccard, not instead of it
    (Broder 1997 §2 defines both resemblance and containment).

    Returns (q_id, c_id, containment) for pairs at/over the threshold.
    Scale: identical shape to ngram_jaccard_pairs — inverted shingle
    index join, never all-pairs; the only extra state is the query-side
    size, which broadcasts.
    """

    def shingle_set(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
        ).distinct()

    # Both sides stay lazy: the corpus side feeds only the intersection,
    # and the query side's two consumers re-derive from a pushed-filter
    # scan of a handful of docs — cheaper than checkpoint materialization
    # scheduling (measured on the jaccard twin).
    q = shingle_set(queries, "q_id")
    c = shingle_set(corpus, "c_id")
    q_size = q.groupBy("q_id").agg(F.count("*").alias("q_n"))
    inter = (
        q.join(c, "shingle")
        .filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(F.broadcast(q_size), "q_id")
        .select(
            "q_id",
            "c_id",
            F.round(F.col("inter").cast("double") / F.col("q_n"), 4).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= threshold)
    )


def cross_split_contamination(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_col: str = "split",
    shingle_n: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: for every 'test' document, the
    fraction of its distinct word shingles that also occur in ANY 'train'
    document. contam_frac == 1.0 means the test doc is fully covered by
    training text (leaked); 0.0 means disjoint.

    Returns (id, n_shingles, n_shared, contam_frac) for test docs.

    Scale: the inverted-index shape — one shuffle keyed on shingle for the
    per-doc distinct + the semi-join; the train side collapses to DISTINCT
    shingles before joining, so shingle document-frequency skew (stop
    shingles) feeds AQE one hot partition at worst. At 100 TB swap the
    shingle string for H.hash15(shingle) on BOTH sides: 8-byte join
    keys, identical semantics (collisions ~2^-60).
    """
    sh = docs.select(
        F.col(id_col),
        F.col(split_col),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
    ).distinct()
    test_sh = sh.filter(F.col(split_col) == "test").select(id_col, "shingle")
    train_sh = sh.filter(F.col(split_col) == "train").select("shingle").distinct()
    totals = test_sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    shared = (
        test_sh.join(train_sh, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )
    return totals.join(shared, id_col, "left").select(
        id_col,
        "n_shingles",
        F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
        F.round(
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("double")
            / F.col("n_shingles").cast("double"),
            4,
        ).alias("contam_frac"),
    )


def simhash32(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash fingerprint per document (Charikar 2002): each token
    votes ±1 per bit of its 32-bit hash; fingerprint bit = sign of the sum.

    Token hash = `hash32` of the token (deterministic cross-run). All
    expression-level (64 agg columns), no UDF. Returns (id, simhash: long).
    """
    tok = docs.select(
        F.col(id_col), F.explode(lower_tokens(F.col(text_col))).alias("w")
    )
    tok = tok.select(id_col, H.hash32(F.col("w")).alias("h"))
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(32)
        ]
    )
    fp = None
    for b in range(32):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp + bit
    hashed = votes.select(F.col(id_col), fp.alias("simhash"))
    # Token-less (empty/whitespace) docs vanish in the explode; re-attach
    # them with the all-zero-votes fingerprint (0) so every input doc has
    # a defined output row.
    ids = docs.select(F.col(id_col)).distinct()
    return ids.join(hashed, id_col, "left").select(
        id_col, F.coalesce(F.col("simhash"), F.lit(0).cast("long")).alias("simhash")
    )


def boilerplate_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    min_doc_frac: float = 0.02,
) -> DataFrame:
    """Corpus-frequency boilerplate screen (C4/RefinedWeb-style): a shingle
    is boilerplate when it occurs in >= min_doc_frac of all documents;
    each document reports how much of it is made of such shingles.

    Returns (id, n_shingles, n_boilerplate, bp_frac) — one row per doc,
    counting shingle INSTANCES (repeats included), bp_frac rounded to 4.

    Scale: document frequencies are a (shingle, doc) distinct + count —
    map-side combined, shuffling only shingle keys; the qualifying set is
    small by construction (high-DF shingles are few) so it broadcasts
    back, and the per-doc tally shuffles only (id, flags). The threshold
    count comes from a 1-row aggregate cross-joined in, so the whole
    thing is one plan — no driver round-trip, no collect.
    """
    sh = docs.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle")
    )
    total = docs.agg(F.count("*").alias("_n_docs"))
    bp = (
        sh.groupBy("shingle")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .crossJoin(F.broadcast(total))
        .where(F.col("_df") >= F.ceil(F.lit(min_doc_frac) * F.col("_n_docs")))
        .select("shingle", F.lit(1).alias("_bp"))
    )
    return (
        sh.join(F.broadcast(bp), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("_bp"), F.lit(0)).cast("long").alias("n_boilerplate"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_boilerplate",
            F.round(
                F.col("n_boilerplate").cast("double") / F.col("n_shingles").cast("double"), 4
            ).alias("bp_frac"),
        )
    )


def incremental_dedup(
    batch: DataFrame,
    snapshot: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup a NEW batch against an already-ingested corpus snapshot —
    the steady-state shape of a 100 TB crawl pipeline, where re-hashing
    the historical corpus per increment is the thing to avoid.

    Two stages, both on 16-byte fingerprints (bodies never shuffle):
    1. within-batch exact dedup (min-id winner per fingerprint);
    2. left-anti join of the survivors against the snapshot's DISTINCT
       fingerprint index.

    At scale the snapshot side is a pre-materialized fingerprint table
    (write `H.fingerprint(text)` once at ingest, bucketed by fp, and the
    anti-join co-locates without re-shuffling history); here we derive it
    inline from the snapshot rows.
    """
    snap_fp = snapshot.select(H.fingerprint(F.col(text_col)).alias("fp"))
    return incremental_dedup_against_index(batch, snap_fp, id_col, text_col)


def incremental_dedup_against_index(
    batch: DataFrame,
    fp_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The materialized-index form of incremental_dedup: the snapshot side
    is already a fingerprint table (an `fp` column) — the steady-state
    crawl loop appends each batch's accepted fingerprints back to this
    index and never re-hashes history. Composes directly with
    foreachBatch for streaming ingest (tests/test_streaming.py)."""
    survivors = (
        batch.select(F.col(id_col), H.fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    # no distinct() on the index: LEFT ANTI never multiplies left rows,
    # so deduplicating the (ever-growing) index per batch is pure waste
    return survivors.join(
        fp_index.select("fp"), "fp", "left_anti"
    ).select(id_col, "fp")


def duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level duplication screen (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): slide an n-token window
    over every document and mark a window DUPLICATED when its exact token
    sequence occurs >= 2 times anywhere in the corpus (other docs or a
    repeat in the same doc). Returns one row per doc:

      (id, n_windows, n_dup, max_dup_run)

    where max_dup_run is the longest run of consecutive duplicated
    windows — the length proxy for the longest duplicated SPAN, which is
    what substring-dedup pipelines actually cut (a run of r duplicated
    n-grams ~ a span of r+n-1 duplicated tokens).

    Scale: the real suffix-array construction is replaced by the
    shuffle-friendly equivalent — position-indexed window fingerprints.
    Only (fp, id, pos) rows reach the exchanges (window text is md5'd
    away before any shuffle); corpus frequencies are one fp-keyed
    aggregate; the run detection is a per-doc sort (gaps-and-islands),
    all integers, so the DuckDB oracle is exact.
    """
    from pyspark.sql import Window as W

    base = docs.select(F.col(id_col), normalized_words(F.col(text_col)).alias("tk"))
    # The fingerprint relation feeds the frequency aggregate AND the flag
    # join, and the flagged relation feeds the per-doc counts AND the
    # run detection — fully lazy, each leg re-ran the tokenize + per-
    # window md5 posexplode scan (the expensive part: one md5 per sliding
    # window). Lazy localCheckpoints (r11 shared-relation discipline).
    win = base.select(
        id_col,
        F.posexplode(F.transform(ngrams(F.col("tk"), n), H.digest)).alias(
            "pos", "fp"
        ),
    ).localCheckpoint(eager=False)
    freq = win.groupBy("fp").agg(F.count("*").alias("c"))
    flagged = (
        win.join(freq, "fp")
        .select(id_col, "pos", (F.col("c") >= 2).alias("dup"))
        .localCheckpoint(eager=False)
    )
    per_doc = flagged.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_windows"),
        F.sum(F.col("dup").cast("int")).cast("bigint").alias("n_dup"),
    )
    # gaps-and-islands over duplicated positions: consecutive positions
    # share (pos - row_number) — the longest island is the longest run
    dup_rows = flagged.where("dup")
    grp = (
        F.col("pos")
        - F.row_number().over(W.partitionBy(id_col).orderBy("pos"))
    ).alias("grp")
    runs = (
        dup_rows.select(id_col, "pos", grp)
        .groupBy(id_col, "grp")
        .agg(F.count("*").alias("run_len"))
        .groupBy(id_col)
        .agg(F.max("run_len").cast("bigint").alias("max_dup_run"))
    )
    return per_doc.join(runs, id_col, "left").select(
        id_col,
        "n_windows",
        "n_dup",
        F.coalesce(F.col("max_dup_run"), F.lit(0)).cast("bigint").alias("max_dup_run"),
    )


def fuzzy_pairs(
    df: DataFrame,
    text_col: str,
    max_dist: int = 2,
    prefix_len: int = 3,
    len_band: int = 2,
) -> DataFrame:
    """Record-linkage fuzzy matching: distinct values of `text_col` whose
    edit distance is in [1, max_dist], found via prefix BLOCKING — the
    equi-join key is the first `prefix_len` chars, so Catalyst plans a
    hash join and levenshtein runs only inside blocks (a bare lev<=k
    condition would be a broadcast-nested-loop over all pairs).

    Scale design: the join runs on the DISTINCT value vocabulary, never
    the corpus — each side is (value, support) where support = corpus
    frequency, so a value appearing 10^6 times contributes ONE row to the
    join and the pair's corpus weight is support_a * support_b computed
    arithmetically, not by materializing the cross product. Length
    banding (|len a - len b| <= len_band, implied by lev <= max_dist but
    cheaper) prunes before the O(len^2) distance.

    Known recall limit (standard for blocking): pairs that differ inside
    the first `prefix_len` chars are missed; multi-pass with a second key
    (e.g. reversed suffix) is the textbook fix and composes by union.
    """
    vocab = (
        df.groupBy(F.col(text_col).alias("val"))
        .agg(F.count("*").alias("support"))
    )
    a = vocab.select(
        F.col("val").alias("name_a"),
        F.col("support").alias("support_a"),
        F.substring("val", 1, prefix_len).alias("blk"),
        F.length("val").alias("la"),
    )
    b = vocab.select(
        F.col("val").alias("name_b"),
        F.col("support").alias("support_b"),
        F.substring("val", 1, prefix_len).alias("blk"),
        F.length("val").alias("lb"),
    )
    return (
        a.join(b, "blk")
        .where(
            (F.col("name_a") < F.col("name_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= len_band)
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where((F.col("dist") >= 1) & (F.col("dist") <= max_dist))
        .select("name_a", "name_b", "dist", "support_a", "support_b")
    )


def fuzzy_pairs_d1(df: DataFrame, text_col: str) -> DataFrame:
    """Edit-distance-1 fuzzy matching with SymSpell deletion-neighborhood
    blocking (Garbe's SymSpell; also Norvig's spell-kernel): two strings
    within one edit (substitution, insertion, or deletion) ALWAYS share a
    member of {value} ∪ {value minus one char}, so exploding each distinct
    value into its |s|+1 deletion variants and equi-joining on the variant
    finds every candidate — 100% recall at distance 1, with NO hot block
    (contrast prefix blocking in `fuzzy_pairs`, where a shared prefix like
    'Supplier#' collapses the corpus into one block).

    Scale shape: cost is O(total characters) variants through one
    hash-partitioned equi-join; corpus frequency travels as a support
    column on the distinct-value vocabulary (hot values contribute one row
    each). Candidates are verified with a real levenshtein, so precision
    is exact; dist-1-sharing-a-variant is the pigeonhole guarantee.
    """
    vocab = (
        df.groupBy(F.col(text_col).alias("val"))
        .agg(F.count("*").alias("support"))
    )
    deletions = F.transform(
        F.sequence(F.lit(1), F.length("val")),
        lambda i: F.concat(
            F.substring(F.col("val"), F.lit(1), i - 1),
            F.col("val").substr(i + 1, F.length("val")),
        ),
    )
    variants = vocab.select(
        "val",
        "support",
        F.explode(F.array_union(F.array(F.col("val")), deletions)).alias("variant"),
    )
    a = variants.select(
        F.col("val").alias("name_a"), F.col("support").alias("support_a"), "variant"
    )
    b = variants.select(
        F.col("val").alias("name_b"), F.col("support").alias("support_b"), "variant"
    )
    return (
        a.join(b, "variant")
        .where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b", "support_a", "support_b")
        .distinct()
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") == 1)
        .select("name_a", "name_b", "dist", "support_a", "support_b")
    )
