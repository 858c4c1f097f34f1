"""Byte-pair encoding: a REAL BPE trainer and tokenizer, distributed.

Upgrades the regex "BPE-ish" pre-segmentation (functions/text.py token
counting) to the actual algorithm (Sennrich et al. 2016): learn a ranked
merge table from corpus statistics, then greedily apply merges in rank
order to tokenize.

Distribution shape (the part that matters at 100 TB):
- Training runs over WORD TYPES, not corpus tokens: one corpus-level
  shuffle builds (word, count) — every subsequent iteration aggregates
  adjacent-symbol pairs over the (much smaller, but still distributed)
  vocabulary, weighted by count. The driver sees exactly ONE row per
  iteration (the argmax pair); the symbol rewrite is a narrow map.
- Like pagerank/k-means, each iteration cuts lineage (localCheckpoint;
  checkpoint dir on a real cluster) so the plan stays O(1) per round.
- Tie-breaks are total (freq DESC, then pair lexicographic), so training
  is deterministic — pinned against a pure-python golden in pytest.
- Application is an Arrow-batched mapInPandas (the sanctioned custom-op
  path: per-word greedy merge loops are inherently sequential), with a
  per-batch word cache — natural-language word frequency follows Zipf, so
  the cache hit rate is high and per-row cost amortizes away.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gearpump_spark.functions import text as TX
from gearpump_spark.functions.exact import py_ln_micro


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt) over lowercased whitespace tokens — the single
    corpus-level aggregation training pays."""
    return (
        docs.select(
            F.explode(TX.lower_tokens(F.col(text_col))).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _merge_pair(syms, a: str, b: str):
    """Replace adjacent (a, b) symbols with a+b, left-to-right
    non-overlapping — the classic BPE rewrite, as a pure fold expression
    (no UDF): append x unless the accumulator ends with `a` and x == b,
    in which case the tail element becomes the merged symbol."""
    merged = a + b

    def step(acc, x):
        can = (F.size(acc) > 0) & (F.element_at(acc, -1) == F.lit(a)) & (
            x == F.lit(b)
        )
        return F.when(
            can,
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def bpe_train(
    docs: DataFrame,
    n_merges: int = 30,
    text_col: str = "text",
    min_freq: int = 2,
    end_of_word: str | None = None,
) -> list[tuple[str, str]]:
    """Learn a ranked merge table from the corpus. Returns [(left, right)]
    in rank order. Stops early when the best pair's weighted frequency
    falls below min_freq.

    ``end_of_word`` (e.g. "</w>", the Sennrich 2016 setup) appends a
    boundary symbol to every word so merges can learn whole-word units
    ("low</w>") distinct from prefixes ("low" inside "lower") — the
    variant real subword vocabularies train with.

    Cost model: BPE merges are inherently sequential (each depends on the
    last), so training runs ONE Spark job per merge with a 1-row argmax
    collect — vocab_size merges = vocab_size jobs over the word-TYPE
    table (already aggregated: |types| << |tokens|). At 100 TB, train on
    a sampled/aggregated word-type table (counts converge fast), then
    apply the learned table with bpe_tokenize — application is a narrow
    Arrow map and scales linearly."""
    chars = F.filter(F.split("word", "(?!^)"), lambda x: x != "")
    if end_of_word:
        chars = F.concat(chars, F.array(F.lit(end_of_word)))
    vocab = (
        _word_counts(docs, text_col)
        .select("cnt", chars.alias("syms"))
        .localCheckpoint()
    )
    return _train_merges(vocab, n_merges, min_freq)


def bpe_train_vocab(
    docs: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
    min_freq: int = 2,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Like bpe_train, but ALSO returns the trained word-type vocabulary
    (word, cnt, syms) in its final post-merge state. The final `syms` of
    each word IS its tokenization under sequential-exhaustive merge
    application (each merge rewrites the whole vocab before the next is
    chosen) — so corpus tokenization stats come for free from training,
    with no second encoding pass and no Python in the loop. This is the
    hash-checkable path: every step is a deterministic DataFrame rewrite,
    mirrored 1:1 by an unrolled SQL CTE chain (the greedy best-rank
    encoder in bpe_tokenize is the real-world API for UNSEEN text, but
    its rank-priority loop is not SQL-expressible)."""
    chars = F.filter(F.split("word", "(?!^)"), lambda x: x != "")
    vocab = (
        _word_counts(docs, text_col)
        .select("word", "cnt", chars.alias("syms"))
        .localCheckpoint()
    )
    merges, vocab, _ = _train_merges_keep(vocab, n_merges, min_freq)
    return merges, vocab


def _train_merges(vocab: DataFrame, n_merges: int, min_freq: int) -> list[tuple[str, str]]:
    return _train_merges_keep(vocab, n_merges, min_freq)[0]


def _train_merges_keep(
    vocab: DataFrame, n_merges: int, min_freq: int
) -> tuple[list[tuple[str, str]], DataFrame, list[int]]:
    """The shared merge loop: (cnt, syms array) vocab → ranked merges +
    the final rewritten vocab + each merge's selection-time weighted
    frequency (the adjacent-pair count when it won the argmax — the
    natural corpus-count estimate for the merge product as a piece).
    One Spark job + 1-row argmax collect per merge (sequential by
    nature); narrow rewrite + lineage cut keeps the plan O(1)/round."""
    merges: list[tuple[str, str]] = []
    freqs: list[int] = []
    for _ in range(n_merges):
        pairs = (
            vocab.select(
                "cnt",
                F.explode(
                    F.arrays_zip(
                        F.slice("syms", 1, F.size("syms") - 1).alias("l"),
                        F.slice("syms", 2, F.size("syms") - 1).alias("r"),
                    )
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.sum("cnt").alias("freq"))
        )
        best = pairs.orderBy(F.desc("freq"), "p").limit(1).collect()
        if not best or best[0]["freq"] < min_freq:
            break
        a, b = best[0]["p"]["l"], best[0]["p"]["r"]
        merges.append((a, b))
        freqs.append(int(best[0]["freq"]))
        vocab = vocab.withColumn("syms", _merge_pair(F.col("syms"), a, b)).localCheckpoint()
    return merges, vocab, freqs


def bpe_train_bytes(
    docs: DataFrame,
    n_merges: int = 30,
    text_col: str = "text",
    min_freq: int = 2,
) -> list[tuple[str, str]]:
    """Byte-level BPE trainer (the GPT-2 family setup, Radford et al.
    2019): the base alphabet is the 256 BYTE values of each word's UTF-8
    encoding, so ANY string tokenizes with zero out-of-vocabulary risk —
    no unicode normalization, no unknown-character fallback. Symbols are
    uppercase hex byte pairs ("C3", "A9", ...) and merges concatenate
    them, so every token spells the exact byte sequence it covers
    (reversible by construction; see bpe_encode_word_bytes round-trip).

    Case is preserved (byte-level vocabularies are trained on raw text)
    and the word boundary is the same whitespace rule as the char-level
    trainer. Cost model identical to bpe_train: one job per merge over
    the word-TYPE table."""
    syms = F.regexp_extract_all(
        F.hex(F.encode(F.col("word"), "UTF-8")), F.lit("(..)"), 1
    )
    vocab = (
        _word_counts_raw(docs, text_col)
        .select("cnt", syms.alias("syms"))
        .localCheckpoint()
    )
    return _train_merges(vocab, n_merges, min_freq)


def _word_counts_raw(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt) over whitespace tokens, case PRESERVED — the
    byte-level trainer's input (raw bytes, no normalization)."""
    return (
        docs.select(F.explode(TX.tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def bpe_encode_word(
    word: str,
    ranks: dict[tuple[str, str], int],
    end_of_word: str | None = None,
) -> list[str]:
    """Reference greedy encoder: repeatedly merge the best-ranked adjacent
    pair. Used by the tokenizer UDF and by the pytest golden."""
    syms = list(word) + ([end_of_word] if end_of_word else [])
    return _apply_merges(syms, ranks)


def _apply_merges(syms: list[str], ranks: dict[tuple[str, str], int]) -> list[str]:
    while len(syms) > 1:
        pairs = [(syms[i], syms[i + 1]) for i in range(len(syms) - 1)]
        ranked = [(ranks[p], i) for i, p in enumerate(pairs) if p in ranks]
        if not ranked:
            break
        _, i = min(ranked)
        syms[i : i + 2] = [syms[i] + syms[i + 1]]
    return syms


def bpe_encode_word_bytes(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Byte-level reference encoder: UTF-8 bytes as uppercase hex-pair
    symbols, then the same greedy best-rank merge loop. The token
    sequence is lossless: bytes.fromhex("".join(tokens)).decode("utf-8")
    reconstructs the word exactly."""
    hx = word.encode("utf-8").hex().upper()
    return _apply_merges([hx[i : i + 2] for i in range(0, len(hx), 2)], ranks)


def bpe_tokenize(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    end_of_word: str | None = None,
) -> DataFrame:
    """(id, n_ws_tokens, n_bpe_tokens, bpe_tokens): tokenize each document
    with the learned merge table. Narrow Arrow-batched map — payload text
    never shuffles; per-batch word cache exploits Zipfian reuse.
    ``end_of_word`` must match what the table was trained with."""
    import re

    ranks = {tuple(p): i for i, p in enumerate(merges)}
    # EXACTLY the trainer's word boundary (functions/text.py WS_RE), not
    # python str.split(): str.split breaks on every Unicode whitespace
    # (NBSP, vertical tab, ...) and would tokenize words the trainer
    # never saw as word types
    ws = re.compile(TX.WS_RE)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}

        def enc(w: str) -> list[str]:
            out = cache.get(w)
            if out is None:
                out = bpe_encode_word(w, ranks, end_of_word)
                cache[w] = out
            return out

        for pdf in batches:
            ids, n_ws, n_bpe, toks = [], [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in ws.split(str(text or "").lower()) if w]
                pieces: list[str] = []
                for w in words:
                    pieces.extend(enc(w))
                ids.append(i)
                n_ws.append(len(words))
                n_bpe.append(len(pieces))
                toks.append(pieces)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_ws_tokens": n_ws,
                    "n_bpe_tokens": n_bpe,
                    "bpe_tokens": toks,
                }
            )

    # derive the id field's type from the input schema so non-long doc
    # ids (string UUIDs, ...) pass through (r2 advisor finding)
    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        op,
        f"{id_col} {id_type}, n_ws_tokens bigint, n_bpe_tokens bigint, "
        "bpe_tokens array<string>",
    )


def bpe_tokenize_bytes(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_ws_tokens, n_bpe_tokens, bpe_tokens) under a BYTE-LEVEL
    merge table (bpe_train_bytes): tokens are hex byte-run symbols, case
    is preserved, and any input — emoji, CJK, malformed-looking text —
    tokenizes without an unknown-symbol path. Same narrow Arrow map and
    Zipf word cache as the char-level tokenizer."""
    import re

    ranks = {tuple(p): i for i, p in enumerate(merges)}
    ws = re.compile(TX.WS_RE)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}

        def enc(w: str) -> list[str]:
            out = cache.get(w)
            if out is None:
                out = bpe_encode_word_bytes(w, ranks)
                cache[w] = out
            return out

        for pdf in batches:
            ids, n_ws, n_bpe, toks = [], [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in ws.split(str(text or "")) if w]
                pieces: list[str] = []
                for w in words:
                    pieces.extend(enc(w))
                ids.append(i)
                n_ws.append(len(words))
                n_bpe.append(len(pieces))
                toks.append(pieces)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_ws_tokens": n_ws,
                    "n_bpe_tokens": n_bpe,
                    "bpe_tokens": toks,
                }
            )

    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        op,
        f"{id_col} {id_type}, n_ws_tokens bigint, n_bpe_tokens bigint, "
        "bpe_tokens array<string>",
    )


def wordpiece_vocab(
    docs: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
    min_freq: int = 2,
) -> "list[str]":
    """The BPE-trained-vocab / WordPiece-encode setup (how BERT-family
    tokenizers are commonly assembled): vocabulary = every single
    character of the lowered corpus plus every bpe_train merge product.
    Returns a sorted list — deterministic, alphabet + n_merges bounded,
    so collecting it to the driver is O(|Σ| + k), never corpus-sized."""
    merges = bpe_train(
        docs, n_merges=n_merges, text_col=text_col, min_freq=min_freq
    )
    chars = (
        docs.select(
            F.explode(TX.lower_tokens(F.col(text_col))).alias(
                "w"
            )
        )
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w)),"
                    " i -> substring(w, CAST(i AS INT), 1))"
                )
            ).alias("c")
        )
        .distinct()
        .collect()
    )
    return sorted({r.c for r in chars} | {a + b for a, b in merges})


def wordpiece_encode_word(word: str, vocab: "set[str]") -> "list[str]":
    """MAXIMAL-MUNCH segmentation (the WordPiece/BERT encode loop,
    Devlin 2019 §A / Song 2021 'Fast WordPiece Tokenization'): repeatedly
    take the LONGEST vocabulary entry prefixing the unconsumed suffix.
    A single character absent from the vocabulary still consumes one
    position (the UNK path), so the loop always terminates in <= len(word)
    steps — the bound the unrolled SQL oracle is sized to."""
    pieces: list[str] = []
    pos, n = 0, len(word)
    while pos < n:
        j = n - pos
        while j > 1 and word[pos : pos + j] not in vocab:
            j -= 1
        pieces.append(word[pos : pos + j])
        pos += j
    return pieces


def wordpiece_tokenize(
    docs: DataFrame,
    vocab: "list[str]",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_ws_tokens, n_wp_tokens, wp_tokens): maximal-munch tokenize
    each document against the trained vocabulary. Same narrow
    Arrow-batched map and Zipf word cache as bpe_tokenize — payload text
    never shuffles; the vocab rides into the closure (bounded, see
    wordpiece_vocab)."""
    import re

    V = set(vocab)
    ws = re.compile(TX.WS_RE)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}

        def enc(w: str) -> "list[str]":
            out = cache.get(w)
            if out is None:
                out = wordpiece_encode_word(w, V)
                cache[w] = out
            return out

        for pdf in batches:
            ids, n_ws, n_wp, toks = [], [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in ws.split(str(text or "").lower()) if w]
                pieces: list[str] = []
                for w in words:
                    pieces.extend(enc(w))
                ids.append(i)
                n_ws.append(len(words))
                n_wp.append(len(pieces))
                toks.append(pieces)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_ws_tokens": n_ws,
                    "n_wp_tokens": n_wp,
                    "wp_tokens": toks,
                }
            )

    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        op,
        f"{id_col} {id_type}, n_ws_tokens bigint, n_wp_tokens bigint, "
        "wp_tokens array<string>",
    )


# ---------------------------------------------------------------------------
# SentencePiece-style UNIGRAM-LM segmentation (Kudo 2018, "Subword
# Regularization"): a trained piece inventory with log-probabilities,
# Viterbi-decoded per word — completing the tokenizer quartet next to the
# char/byte greedy-BPE and WordPiece maximal-munch encoders. The piece
# inventory is seeded the way SentencePiece seeds its unigram trainer:
# from frequent-substring candidates — here the BPE merge products (each
# scored by its selection-time weighted pair frequency) plus the corpus
# alphabet (scored by weighted character counts). Scores are integer
# MICRO-ln-units: s(p) = ROUND(ln f_p, 6)·1e6 − ROUND(ln Σf, 6)·1e6 —
# every LN arg integral, the rounded-decimal discipline, so the Spark
# encoder and the unrolled SQL oracle agree bit for bit.
# ---------------------------------------------------------------------------

# (score, n_pieces) lexicographic packing for the Viterbi DP: maximize the
# summed score, tie-break on FEWER pieces. key = score_micro·1024 − n is
# order-isomorphic as long as n < 1024 (guarded word length ≤ 49) and
# distinct score sums differ by ≥ 1 micro-unit (integers). A candidate
# extension is then key[pos−j] + s(piece)·1024 − 1 — one bigint per
# position, which is what lets the SQL oracle carry the whole DP as a
# single LIST<BIGINT> column.
UNIGRAM_TIE_BASE = 1024


def unigram_vocab_scores(
    docs: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
    min_freq: int = 2,
) -> "dict[str, int]":
    """Train the unigram-LM piece inventory: {piece: score_micro}.

    Pieces = corpus alphabet (weighted char counts over word types) +
    BPE merge products (selection-time pair frequencies); two merges
    producing the same string sum their counts. Driver traffic is
    alphabet + n_merges bounded: one argmax row per merge (bpe_train's
    cost model) plus one |Σ|-row char-count collect."""
    chars = F.filter(F.split("word", "(?!^)"), lambda x: x != "")
    vocab = (
        _word_counts(docs, text_col)
        .select("word", "cnt", chars.alias("syms"))
        .localCheckpoint()
    )
    merges, _, freqs = _train_merges_keep(
        vocab.select("cnt", "syms"), n_merges, min_freq
    )
    char_rows = (
        vocab.select("cnt", F.explode("syms").alias("c"))
        .groupBy("c")
        .agg(F.sum("cnt").alias("f"))
        .collect()
    )
    counts: dict[str, int] = {}
    for r in char_rows:
        counts[r.c] = counts.get(r.c, 0) + int(r.f)
    for (a, b), f in zip(merges, freqs):
        p = a + b
        counts[p] = counts.get(p, 0) + f
    total = sum(counts.values())
    ln_tot = py_ln_micro(total)
    return {p: py_ln_micro(f) - ln_tot for p, f in counts.items()}


def unigram_encode_word(
    word: str, scores: "dict[str, int]"
) -> "tuple[list[str], int]":
    """Viterbi decode: the segmentation maximizing the summed piece
    score, tie-broken to the fewest pieces (both encoded in the packed
    key — see UNIGRAM_TIE_BASE); among equal (score, n) paths the last
    piece prefers longer (output-invariant: surfaced counts and score
    are equal by definition of the tie). Returns (pieces, key) where
    key = score_micro·1024 − n_pieces. Raises on a character outside
    the inventory — impossible for corpus-trained scores (the alphabet
    is in the inventory), loud instead of silent if violated."""
    L = len(word)
    best: list[int | None] = [None] * (L + 1)
    back = [0] * (L + 1)
    best[0] = 0
    for pos in range(1, L + 1):
        k_best: int | None = None
        j_best = 0
        for j in range(1, pos + 1):
            prev = best[pos - j]
            if prev is None:
                continue
            s = scores.get(word[pos - j : pos])
            if s is None:
                continue
            cand = prev + s * UNIGRAM_TIE_BASE - 1
            if k_best is None or cand > k_best or (cand == k_best and j > j_best):
                k_best, j_best = cand, j
        best[pos] = k_best
        back[pos] = j_best
    if best[L] is None:
        raise ValueError(
            f"word {word!r} has a character outside the trained piece "
            "inventory — unigram scores must be trained on the same corpus"
        )
    pieces: list[str] = []
    pos = L
    while pos > 0:
        j = back[pos]
        pieces.append(word[pos - j : pos])
        pos -= j
    pieces.reverse()
    return pieces, best[L]


def unigram_tokenize(
    docs: DataFrame,
    scores: "dict[str, int]",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_ws_tokens, n_sp_tokens, logprob_micro, sp_tokens): Viterbi
    unigram-LM tokenization against a trained piece inventory. Same
    narrow Arrow-batched map and Zipf word cache as the other encoders —
    payload text never shuffles; the inventory (alphabet + n_merges
    bounded) rides into the closure. logprob_micro is the EXACT integer
    sum of piece scores over the document's best segmentations."""
    import re

    ws = re.compile(TX.WS_RE)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, tuple[list[str], int]] = {}

        def enc(w: str) -> "tuple[list[str], int]":
            out = cache.get(w)
            if out is None:
                out = unigram_encode_word(w, scores)
                cache[w] = out
            return out

        for pdf in batches:
            ids, n_ws, n_sp, lp, toks = [], [], [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in ws.split(str(text or "").lower()) if w]
                pieces: list[str] = []
                score = 0
                for w in words:
                    ps, key = enc(w)
                    pieces.extend(ps)
                    # key = score·1024 − n with score ≤ 0, so −key ≥ 0 and
                    # sign-magnitude unpacking is exact in both engines
                    score += -((-key) // UNIGRAM_TIE_BASE)
                ids.append(i)
                n_ws.append(len(words))
                n_sp.append(len(pieces))
                lp.append(score)
                toks.append(pieces)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_ws_tokens": n_ws,
                    "n_sp_tokens": n_sp,
                    "logprob_micro": lp,
                    "sp_tokens": toks,
                }
            )

    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        op,
        f"{id_col} {id_type}, n_ws_tokens bigint, n_sp_tokens bigint, "
        "logprob_micro bigint, sp_tokens array<string>",
    )
