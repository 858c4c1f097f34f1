"""Trained quality classification — the distributed integer logistic
regression behind text_quality_lr_int, factored so the trained model can
score BATCH and STREAMING data alike.

Reference analog: the wordcount Split→Sum streaming pipeline
(/root/reference/examples/streaming/wordcount/src/main/scala/.../Sum.scala:26-60)
extended to scored emission — the reference's Task would carry the model
in state and stamp scores on each record; here the trained weights fold
into a ROW-LOCAL Spark expression (`lr_margin_expr`), so scoring a
stream is a stateless narrow map: no shuffle, no state store, works
under any output mode and under Trigger.Continuous.

Why row-local scoring is exact: the batch pipeline aggregates hashed
features per (doc, bucket) and then takes Σ_j w_j·x_j; by linearity that
equals Σ_tokens w[bucket(tok)]·sign(tok) + w_bias, and every term is an
integer, so the fold order cannot matter. The streaming score therefore
hash-matches the batch margin bit for bit (pinned in
tests/test_streaming.py).

Training contract (mirrored 1:1 by the unrolled CTE oracle in
queries/llm.py _quality_lr_oracle): full-batch gradient descent with a
hard-sigmoid link in 1e6 micro-units, diagonal Σx² preconditioning, and
sign-magnitude floor division everywhere a quantity can be negative
(Spark DIV truncates, DuckDB // floors; they agree only on non-negative
magnitudes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gearpump_spark.functions import hash as H
from gearpump_spark.functions import text as TX

N_BUCKETS = 64
BIAS_J = N_BUCKETS  # feature index of the always-1 bias term
SCALE = 1_000_000  # micro-unit scale of weights / sigmoid / errors


def sdiv(x: int, d: int) -> int:
    """Sign-magnitude floor division — the embedding_top_pc_int idiom:
    non-negative magnitudes divide identically under Spark DIV and
    DuckDB //."""
    return -((-x) // d) if x < 0 else x // d


def hashed_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, j, x): the r7 64-bucket signed hashed-unigram features
    plus the bias row j=64, x=1 for every doc. Tokens collapse map-side
    into at most 65 rows per document regardless of length."""
    tok = docs.select("doc_id", F.explode(TX.lower_tokens(F.col(text_col))).alias("w"))
    return (
        tok.select(
            "doc_id",
            (H.hash15(F.col("w"), 9) % N_BUCKETS).alias("j"),
            F.when(H.hash15(F.col("w"), 10) % 2 == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("s"),
        )
        .groupBy("doc_id", "j")
        .agg(F.sum("s").cast("long").alias("x"))
        .where(F.col("x") != 0)
        .select("doc_id", F.col("j").cast("long").alias("j"), "x")
        .unionByName(
            docs.select(
                "doc_id",
                F.lit(BIAS_J).cast("long").alias("j"),
                F.lit(1).cast("long").alias("x"),
            )
        )
    )


def keyword_teacher_labels(
    docs: DataFrame,
    pos_words: tuple = ("spark", "table"),
    neg_words: tuple = ("row", "batch"),
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, y): the heuristic teacher rule — y = 1 when positive
    marker words outnumber negative ones. The CCNet/fastText bootstrap
    pattern: heuristic labels in, a generalizing classifier out."""
    tok = docs.select("doc_id", F.explode(TX.lower_tokens(F.col(text_col))).alias("w"))
    counts = tok.groupBy("doc_id").agg(
        F.sum(F.when(F.col("w").isin(*pos_words), 1).otherwise(0)).alias("pos"),
        F.sum(F.when(F.col("w").isin(*neg_words), 1).otherwise(0)).alias("neg"),
    )
    return (
        docs.select("doc_id")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.coalesce(F.col("pos"), F.lit(0))
                > F.coalesce(F.col("neg"), F.lit(0)),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("y"),
        )
    )


def keyword_teacher_multiclass(
    docs: DataFrame,
    class_words: tuple = (
        ("spark", "table"),
        ("row", "batch"),
        ("scan", "filter"),
        ("join", "group"),
    ),
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, label): the k-class keyword teacher — label = argmax over
    per-class marker-word counts, ties to the SMALLEST class id (via
    array_position's first-occurrence semantics, which DuckDB's
    list_position mirrors exactly). The CCNet/fastText bootstrap pattern
    extended to k classes; a doc with no marker words lands in class 0."""
    tok = docs.select("doc_id", F.explode(TX.lower_tokens(F.col(text_col))).alias("w"))
    counts = tok.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("w").isin(*ws), 1).otherwise(0))
            .cast("long")
            .alias(f"c{i}")
            for i, ws in enumerate(class_words)
        ]
    )
    cnts = F.array(
        *[
            F.coalesce(F.col(f"c{i}"), F.lit(0).cast("long"))
            for i in range(len(class_words))
        ]
    )
    return (
        docs.select("doc_id")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            (F.array_position(cnts, F.array_max(cnts)) - 1)
            .cast("long")
            .alias("label"),
        )
    )


def one_vs_rest_labels(cls: DataFrame, n_classes: int) -> DataFrame:
    """(doc_id, c, y): fan the k-class label out to k one-vs-rest binary
    labels — a bounded k-way fan-out (crossJoin with a k-row literal
    frame), never a shuffle of the corpus."""
    spark = cls.sparkSession
    cdf = spark.createDataFrame([(c,) for c in range(n_classes)], "c long")
    return cls.crossJoin(F.broadcast(cdf)).select(
        "doc_id",
        "c",
        (F.col("label") == F.col("c")).cast("long").alias("y"),
    )


def train_lr_int(
    spark: SparkSession,
    fx: DataFrame,
    lab: DataFrame,
    n_steps: int = 16,
    lr_den: int = 3,
) -> "dict[int, int]":
    """Train the integer LR: n_steps of (doc-keyed margin agg →
    hard-sigmoid error → 65-key gradient agg → preconditioned update).
    Only 65 gradient ints cross the driver boundary per step; weights
    ride back as a broadcast. Returns {j: weight} micro-unit ints."""
    xs = {
        int(r.j): max(int(r.xs), 1)
        for r in fx.groupBy("j")
        .agg(F.sum(F.col("x") * F.col("x")).alias("xs"))
        .collect()
    }
    sigmoid = F.expr(
        f"least(greatest(CASE WHEN z < 0 THEN -((-z) DIV 4) ELSE z DIV 4 END"
        f" + {SCALE // 2}, 0), {SCALE})"
    )
    w = {j: 0 for j in range(N_BUCKETS + 1)}
    for _t in range(n_steps):
        wdf = spark.createDataFrame(
            [(j, w[j]) for j in range(N_BUCKETS + 1)], "j long, w long"
        )
        z = (
            fx.join(F.broadcast(wdf), "j")
            .groupBy("doc_id")
            .agg(F.sum(F.col("w") * F.col("x")).alias("z"))
        )
        e = z.join(lab, "doc_id").select(
            "doc_id", (F.col("y") * SCALE - sigmoid).alias("e")
        )
        grads = (
            fx.join(e, "doc_id")
            .groupBy("j")
            .agg(F.sum(F.col("x") * F.col("e")).alias("g"))
            .collect()
        )
        gm = {int(r.j): int(r.g) for r in grads}
        for j in range(N_BUCKETS + 1):
            w[j] += sdiv(gm.get(j, 0), lr_den * xs.get(j, 1))
    return w


def train_lr_multiclass_int(
    spark: SparkSession,
    fx: DataFrame,
    labs: DataFrame,
    n_classes: int,
    n_steps: int = 16,
    lr_den: int = 3,
) -> "dict[tuple[int, int], int]":
    """One-vs-rest integer LR trained JOINTLY: the class id is a group
    key, not an outer loop, so every step stays ONE doc×class-keyed
    margin agg + ONE (class, feature)-keyed gradient agg regardless of
    k — the single-agg-per-step plan of train_lr_int with a class
    dimension. k·65 gradient ints cross the driver boundary per step
    (260 at k=4); weights ride back as one broadcast. The Σx²
    preconditioner is per-feature and shared by every class (the data
    matrix is the same; only the labels differ). Returns
    {(c, j): weight} micro-unit ints."""
    xs = {
        int(r.j): max(int(r.xs), 1)
        for r in fx.groupBy("j")
        .agg(F.sum(F.col("x") * F.col("x")).alias("xs"))
        .collect()
    }
    sigmoid = F.expr(
        f"least(greatest(CASE WHEN z < 0 THEN -((-z) DIV 4) ELSE z DIV 4 END"
        f" + {SCALE // 2}, 0), {SCALE})"
    )
    w = {(c, j): 0 for c in range(n_classes) for j in range(N_BUCKETS + 1)}
    for _t in range(n_steps):
        wdf = spark.createDataFrame(
            [(c, j, w[(c, j)]) for (c, j) in sorted(w)],
            "c long, j long, w long",
        )
        z = (
            fx.join(F.broadcast(wdf), "j")
            .groupBy("doc_id", "c")
            .agg(F.sum(F.col("w") * F.col("x")).alias("z"))
        )
        e = z.join(labs, ["doc_id", "c"]).select(
            "doc_id", "c", (F.col("y") * SCALE - sigmoid).alias("e")
        )
        grads = (
            fx.join(e, "doc_id")
            .groupBy("c", "j")
            .agg(F.sum(F.col("x") * F.col("e")).alias("g"))
            .collect()
        )
        gm = {(int(r.c), int(r.j)): int(r.g) for r in grads}
        for key in w:
            w[key] += sdiv(gm.get(key, 0), lr_den * xs.get(key[1], 1))
    return w


def lr_margin_expr(weights: "dict[int, int]", text_col: str = "text") -> Column:
    """The trained model as a ROW-LOCAL integer expression: margin =
    Σ_tokens w[bucket(tok)]·sign(tok) + w_bias — exactly the batch
    pipeline's Σ_j w_j·x_j by linearity (integer addition, order-free).
    Because it is a stateless narrow map over one column, it scores a
    STREAMING DataFrame under any trigger/output mode: the reference's
    scored-emission Task without a state store."""
    wmap = F.create_map(
        *[
            c
            for j in range(N_BUCKETS)
            for c in (F.lit(j).cast("long"), F.lit(weights.get(j, 0)))
        ]
    )
    tokens = TX.lower_tokens(F.col(text_col))

    def term(t: Column) -> Column:
        bucket = H.hash15(t, 9) % N_BUCKETS
        sign = F.when(H.hash15(t, 10) % 2 == 0, F.lit(1)).otherwise(
            F.lit(-1)
        )
        return F.coalesce(F.element_at(wmap, bucket), F.lit(0)) * sign

    return F.aggregate(
        tokens,
        F.lit(weights.get(BIAS_J, 0)).cast("long"),
        lambda acc, t: acc + term(t),
    )


def score_documents(
    df: DataFrame, weights: "dict[int, int]", text_col: str = "text"
) -> DataFrame:
    """Append (margin, pred) to a batch OR streaming document frame —
    one narrow projection, no shuffle, no state."""
    m = lr_margin_expr(weights, text_col)
    return df.withColumn("margin", m.cast("bigint")).withColumn(
        "pred", (F.col("margin") >= 0).cast("bigint")
    )
