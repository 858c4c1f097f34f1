"""Full-text retrieval: BM25 scoring and a persistent inverted index.

The scoring uses the rational-Robertson-idf BM25 variant (k1=1.2, b=0.75,
idf = (N-df+0.5)/(df+0.5) — no ln/pow, so the integer-scaled score
(22·tf·T·(2N-2df+1)) / ((10·tf·T+3T+9·dl·N)·(2df+1)) is one IEEE division
per term and therefore bit-identical across engines). Per-term scores sum
in FIXED syntactic order (IEEE addition is not associative; an unordered
SUM() would be partition-order-dependent).

Scale design mirrors the persistent IVF index (similarity.ivf_write_index):
the tokenize+postings scan is paid ONCE at ingest, written hash-bucketed by
term — every subsequent query filters the postings scan to its few terms
(predicate pushdown), broadcasts the tiny per-term document frequencies,
joins document lengths on their bucketed key, and top-k compiles to
TakeOrderedAndProject. The corpus text is never read at query time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gearpump_spark.functions import text as TX


def bm25_score(tf: Column, df: Column, t: Column, n: Column, dl: Column) -> Column:
    """One query term's BM25 contribution (k1=1.2, b=0.75, rational idf).

    All inputs are BIGINT columns; the expression is a fixed tree of
    correctly-rounded IEEE ops, reproducible verbatim in ANSI SQL:
    (22.0*tf*T*(2N-2df+1)) / ((10.0*tf*T + 3.0*T + 9.0*dl*N)*(2df+1)).
    """
    return (F.lit(22.0) * tf * t * (2 * n - 2 * df + 1)) / (
        (F.lit(10.0) * tf * t + F.lit(3.0) * t + F.lit(9.0) * dl * n) * (2 * df + 1)
    )


def bm25_pivot_score(terms: tuple[str, ...] | list[str], s: Column = None) -> Column:
    """Sum per-term scores in the FIXED order of `terms` via conditional
    aggregation: COALESCE(MAX(CASE word=t THEN s END), 0) + ... — the
    only associativity-safe way to total float contributions in a group.
    Use inside groupBy(doc).agg(...)."""
    if not terms:
        raise ValueError("need at least one query term")
    s = F.col("s") if s is None else s

    def one(w: str) -> Column:
        return F.coalesce(F.max(F.when(F.col("word") == w, s)), F.lit(0.0))

    total = one(terms[0])
    for w in terms[1:]:
        total = total + one(w)
    return total


def tokenized_docs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, tk): lowercased whitespace tokens per document — the shared
    upstream of every inline lexical relation. One row per input row
    (zero-token docs keep an empty array)."""
    return docs.select(
        F.col(id_col), TX.lower_tokens(F.col(text_col)).alias("tk")
    )


def postings_from_tokens(
    toks: DataFrame, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, doc_lengths, stats) from a tokenized (id, tk) relation:
    per-(word, doc) term frequencies, per-doc token counts, and the 1-row
    (n_docs, total_tokens) table — the three relations every lexical
    scorer needs.

    Doc lengths come from size(tk) — a NARROW map over the tokenize
    scan, no explode and no shuffle — not from re-aggregating the
    postings relation: dl = Σ tf per doc is definitionally len(tk), and
    deriving it through postings forced a second full tokenize+explode
    plus a full-vocabulary (word, doc) exchange whenever the scoring
    branch filters postings to its query terms pre-aggregate (which
    breaks exchange reuse — the r10 bm25 plan audit counted THREE
    tokenize subtrees for one query). Docs with zero tokens get no dl
    row (same contract as the postings-derived aggregate) — they can't
    match any term, and n/t are unaffected (their Σ contribution is 0).
    Total tokens t likewise rides the narrow dl relation; n counts the
    toks rows (one per doc — tokenized_docs preserves row count)."""
    postings = (
        toks.select(id_col, F.explode("tk").alias("word"))
        .groupBy("word", id_col)
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dl = toks.select(
        F.col(id_col), F.size("tk").cast("long").alias("dl")
    ).where(F.col("dl") > 0)
    stats = toks.agg(F.count("*").cast("long").alias("n")).crossJoin(
        dl.agg(F.sum("dl").cast("long").alias("t"))
    )
    return postings, dl, stats


def tokenize_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize_tokens: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """tokenized_docs |> postings_from_tokens, with the tokenized relation
    lazily localCheckpoint'd by default (r11, the wedge-tier lesson): the
    three returned relations hang off ONE (id, tk) upstream consumed by
    multiple legs (postings; dl twice — the scoring join and the Σdl in
    stats), and without the cut each leg re-runs the full regex tokenize
    scan — the dominant per-query cost of the inline BM25 path. eager=False
    defers the blocks to the first action, and every leg reads them; under
    AQE creating the checkpoint still runs the scan-side shuffle below it
    (1 job at sf0.001). ``materialize_tokens=False``
    keeps the relation fully lazy for single-consumer callers (the
    persistent-index build reads only postings — materializing the token
    arrays there would be pure overhead)."""
    toks = tokenized_docs(docs, text_col, id_col)
    if materialize_tokens:
        toks = toks.localCheckpoint(eager=False)
    return postings_from_tokens(toks, id_col)


def text_index_write(
    docs: DataFrame,
    table_name: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8,
) -> None:
    """Materialize a persistent inverted index: postings hash-bucketed by
    term (`table_name`), document lengths bucketed by doc id
    (`table_name`_docs), corpus totals (`table_name`_stats). The
    tokenize scan is paid ONCE — the doc-length and stats tables derive
    from the ALREADY-WRITTEN postings table (each write is its own
    action, so deriving them from the in-memory plan would re-tokenize
    the corpus per write). Queries never touch the raw text again.
    At 100 TB the postings table is itself huge, but a query reads only
    its terms' slice of it (bucket + min/max pruning via the sorted
    bucketed layout).

    Consistency (r2 advisor finding): n_docs snapshots BEFORE any write
    (one driver-side count), so a source whose underlying files change
    between the three write actions cannot leave n inconsistent with the
    postings it was counted against. The three writes are still separate
    non-atomic actions — if the job dies midway, partial tables may
    exist; re-run the build (every write is mode=overwrite, so a re-run
    converges)."""
    from gearpump_spark.operators.physical import write_bucketed

    spark = docs.sparkSession
    n_docs = docs.count()  # snapshot once, before any write
    postings, _dl, _stats = tokenize_postings(
        docs, text_col, id_col, materialize_tokens=False
    )
    write_bucketed(postings, table_name, "word", n_buckets=n_buckets, sort_by="word")
    stored = spark.table(table_name)
    dl = stored.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    write_bucketed(dl, f"{table_name}_docs", id_col, n_buckets=n_buckets, sort_by=id_col)
    stats = spark.createDataFrame([(n_docs,)], "n long").crossJoin(
        spark.table(f"{table_name}_docs").agg(F.sum("dl").cast("long").alias("t"))
    )
    stats.write.mode("overwrite").format("parquet").saveAsTable(f"{table_name}_stats")


def bm25_topk(
    docs: DataFrame,
    terms: tuple[str, ...] | list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    require_all: bool = False,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Inline BM25 top-k (no index): one pass to build the three
    relations, then the same scoring join as the indexed path. The
    query-term filter lands BEFORE the tf aggregate, so the only
    per-token shuffle carries matching rows. ``require_all=True`` gives
    conjunctive (boolean AND) semantics: only documents containing EVERY
    query term rank — the matched-term count rides the same pivot
    aggregate, no extra join. ``toks`` lets a caller that already built
    (and typically checkpointed) the tokenized_docs relation share it
    instead of re-tokenizing (the retrieval-eval harness scores rankers
    AND derives relevance sets from the same tokens)."""
    terms = _clean_terms(terms)
    if toks is None:
        postings, dl, stats = tokenize_postings(docs, text_col, id_col)
    else:
        postings, dl, stats = postings_from_tokens(toks, id_col)
    return _score_topk(
        postings.where(F.col("word").isin(*terms)), dl, stats, terms, k, id_col,
        require_all,
    )


def _clean_terms(terms: tuple[str, ...] | list[str]) -> tuple[str, ...]:
    """Order-preserving dedup: a repeated query term must not be scored
    twice (the pivot would add its branch twice while the AND gate counts
    it once)."""
    out = tuple(dict.fromkeys(terms))
    if not out:
        raise ValueError("need at least one query term")
    return out


def bm25_topk_from_index(
    spark, table_name: str, terms: tuple[str, ...] | list[str], k: int = 10,
    id_col: str = "doc_id", require_all: bool = False,
) -> DataFrame:
    """Query a persistent inverted index written by text_index_write:
    identical results to bm25_topk over the source docs, but the scan
    reads only the query terms' postings (pushed filter on the bucketed
    sort key) — the corpus text is never touched."""
    terms = _clean_terms(terms)
    postings = spark.table(table_name).where(F.col("word").isin(*terms))
    dl = spark.table(f"{table_name}_docs")
    stats = spark.table(f"{table_name}_stats")
    return _score_topk(postings, dl, stats, terms, k, id_col, require_all)


def phrase_match(
    docs: DataFrame,
    phrase: tuple[str, ...] | list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search: (id, n_occurrences) for documents containing
    the consecutive token sequence `phrase` (lowercased whitespace
    tokens). The classic positional-index algorithm: filter each term's
    (doc, position) postings, then equi-join on doc with the position
    offset folded into the join — term k must sit at pos0 + k.

    Scale: the per-token explode is narrow; only the PHRASE TERMS'
    positions ever shuffle (filter before the join); each join keys on
    (doc, aligned position) so it's a plain hash join with no fan-out —
    a phrase occurrence meets exactly once."""
    if len(phrase) < 2:
        raise ValueError("phrase needs at least 2 terms")
    toks = docs.select(
        F.col(id_col),
        F.posexplode(TX.lower_tokens(F.col(text_col))).alias(
            "pos", "word"
        ),
    )
    return _phrase_from_positions(toks, phrase, id_col)


def _phrase_from_positions(
    toks: DataFrame, phrase: tuple[str, ...] | list[str], id_col: str
) -> DataFrame:
    """toks: (id, pos, word) rows. Join the k-th term at anchor+k."""
    anchor = (
        toks.where(F.col("word") == phrase[0])
        .select(F.col(id_col), F.col("pos").alias("_p0"))
    )
    cur = anchor
    for k, term in enumerate(phrase[1:], start=1):
        nxt = toks.where(F.col("word") == term).select(
            F.col(id_col), (F.col("pos") - k).alias("_p0")
        )
        cur = cur.join(nxt, [id_col, "_p0"])
    return (
        cur.groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .orderBy(id_col)
    )


def positional_index_write(
    docs: DataFrame,
    table_name: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8,
) -> None:
    """Materialize a POSITIONAL inverted index: (word, doc, positions[])
    hash-bucketed by term. Phrase queries then read only their terms'
    postings — the corpus text is never re-tokenized."""
    from gearpump_spark.operators.physical import write_bucketed

    toks = docs.select(
        F.col(id_col),
        F.posexplode(TX.lower_tokens(F.col(text_col))).alias(
            "pos", "word"
        ),
    )
    postings = toks.groupBy("word", id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )
    write_bucketed(postings, table_name, "word", n_buckets=n_buckets, sort_by="word")


def phrase_match_from_index(
    spark, table_name: str, phrase: tuple[str, ...] | list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Phrase search over a positional index written by
    positional_index_write: identical results to phrase_match over the
    source docs; the scan reads only the phrase terms' postings."""
    if len(phrase) < 2:
        raise ValueError("phrase needs at least 2 terms")
    postings = spark.table(table_name).where(F.col("word").isin(*set(phrase)))
    toks = postings.select(
        id_col, "word", F.explode("positions").alias("pos")
    )
    return _phrase_from_positions(toks, phrase, id_col)


def _score_topk(
    postings: DataFrame,
    dl: DataFrame,
    stats: DataFrame,
    terms: tuple[str, ...] | list[str],
    k: int,
    id_col: str,
    require_all: bool = False,
) -> DataFrame:
    dfc = postings.groupBy("word").agg(F.count("*").cast("long").alias("df"))
    scored = (
        postings.join(F.broadcast(dfc), "word")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            "word",
            bm25_score(
                F.col("tf"), F.col("df"), F.col("t"), F.col("n"), F.col("dl")
            ).alias("s"),
        )
    )
    if require_all:
        pivoted = scored.groupBy(id_col).agg(
            bm25_pivot_score(terms).alias("score"),
            F.count("*").alias("_nm"),  # one row per matched term
        )
        pivoted = pivoted.where(F.col("_nm") == len(set(terms))).drop("_nm")
    else:
        pivoted = scored.groupBy(id_col).agg(bm25_pivot_score(terms).alias("score"))
    return pivoted.orderBy(F.desc("score"), id_col).limit(k).select(id_col, "score")


def rrf_fuse(
    rankings: list[tuple[str, DataFrame]],
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack 2009) of N rank lists — the
    standard hybrid-retrieval combiner (BM25 lexical + embedding
    semantic, each blind to the other's signal). Each input is
    (name, DataFrame[(id_col, rank)]); a document absent from a list
    contributes nothing for it. rrf = Σ_i 1/(c + rank_i), summed in the
    FIXED input order (IEEE addition is not associative; an unordered
    SUM would be partition-order-dependent for ≥3 lists — same pivot
    discipline as the BM25 scorer).

    Scale: inputs are top-k lists (tiny — each ranker already reduced
    the corpus with TakeOrdered), so the pivot groupBy and final sort
    run on Σ|lists| rows, never the corpus.
    """
    parts = [
        df.select(
            F.col(id_col),
            F.lit(name).alias("_src"),
            F.col("rank").cast("bigint").alias("_r"),
        )
        for name, df in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    names = [name for name, _ in rankings]
    g = u.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("_src") == name, F.col("_r"))).alias(f"r_{name}")
            for name in names
        ]
    )
    score = None
    for name in names:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(c) + F.col(f"r_{name}")), F.lit(0.0)
        )
        score = term if score is None else score + term
    ranked = g.select(id_col, *[f"r_{n}" for n in names], score.alias("rrf"))
    from pyspark.sql import Window as W

    top = ranked.orderBy(F.desc("rrf"), F.col(id_col)).limit(k)
    w = W.orderBy(F.desc("rrf"), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))
