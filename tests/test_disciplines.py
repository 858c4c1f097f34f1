"""r6 (r5 verdict #6): the two scale disciplines that were prose-only,
enforced mechanically.

1. Hub caps on Σdeg² wedge operators — the r5 Jaccard lesson: the uncapped
   common-neighbor wedge ran >20 min at sf1 and was killed. Every call
   site of a wedge-fanout operator inside the registered-query modules
   must pass an explicit degree cap.

2. Lazy localCheckpoint on multi-consumer subplans — the r5 perf theme:
   an expensive shared subplan consumed by several downstream legs
   recomputes once per leg unless pinned (dedup_semantic was 8×, the
   triangle estimator 3×). The known multi-consumer flagships must show a
   materialized shared scan (ExistingRDD) in their physical plan.

3. One whitespace rule. functions/text.py owns the split class and every
   token form built on it, each with its DuckDB twin; a second spelling
   elsewhere is how four queries came to split on Java's \\s (which
   matches U+000B) against oracles using RE2's \\s (which does not).

4. One vector layer. functions/vector.py owns the dot, norm, cosine and
   distance folds, micro- and milli-unit quantization and the seeded
   pick, each with its DuckDB twin: a float fold whose twin is spelled
   elsewhere can reorder its sum and move the last bit of every result
   built on it.

5. One fixture stream reader. datasets.stream_table owns the streaming
   read of a fixture table: its path shape, its ts rule and the flush
   sentinel. A query that opens its own file source repeats all three.
"""

from __future__ import annotations

import pathlib
import re

from gearpump_spark.queries import all_queries

QS = all_queries()
ROOT = pathlib.Path(__file__).resolve().parent.parent


def _query_sources() -> str:
    return "\n".join(
        p.read_text() for p in (ROOT / "gearpump_spark" / "queries").glob("*.py")
    )


def _call_spans(src: str, opener: str):
    """Source text of each ``opener(...)`` call, to its matching paren."""
    for m in re.finditer(re.escape(opener), src):
        depth, i = 0, m.end() - 1
        while i < len(src):
            if src[i] == "(":
                depth += 1
            elif src[i] == ")":
                depth -= 1
                if depth == 0:
                    break
            i += 1
        yield src[m.start() : i + 1]


def test_wedge_operators_capped_at_call_sites():
    """Every queries/-side call of a Σdeg² wedge operator passes an
    explicit max_degree cap (the operator default stays None = exact, so
    library users opt in knowingly — but OUR registered queries must
    model the 100 TB configuration)."""
    src = _query_sources()
    # graph_jaccard_neighbors implements its wedge inline — its hub cap is
    # the deg > 64 anti-join; regression = the filter disappearing.
    assert re.search(r"deg\.where\(F\.col\(\"d\"\) > 64\)", src), (
        "graph_jaccard_neighbors lost its degree-64 hub-center anti-join"
    )
    for fn in ("link_predict_common_neighbors",):
        # no \s* before the paren: prose mentions in docstrings write
        # "fn (..."; real call sites never put a space there (and the
        # repo is black-formatted, which enforces exactly that)
        # crude but effective: the cap kwarg must appear within the
        # call's argument span (to the matching close paren)
        for span in _call_spans(src, f"{fn}("):
            assert "max_degree" in span, (
                f"{fn} called without an explicit max_degree cap in a "
                "registered-query module — the r5 sf1 runaway; pass the "
                "cap (graph.py documents the super-node-exclusion trade)."
            )


def test_multi_consumer_flagships_pin_shared_subplan(spark):
    """The flagships whose expensive subplan feeds several consumers must
    carry a materialized shared scan. A regression back to recompute
    shows up as the ExistingRDD scan vanishing from the physical plan."""
    sf = "/root/testdata/sf0.001"
    for name in (
        "dedup_semantic",
        "graph_triangle_estimate",
        "graph_clustering_coeff",
        "graph_jaccard_neighbors",
        "similarity_mmr_rerank",
        "similarity_binary_rerank",
    ):
        df = QS[name](spark, sf)
        p = df._jdf.queryExecution().simpleString()
        assert "ExistingRDD" in p, (
            f"{name}: no materialized shared subplan (localCheckpoint) in "
            "the physical plan — the multi-consumer recompute bug of r4 "
            "is back (docs/BENCH_NOTES_r5.md)."
        )


def test_vector_arithmetic_only_in_vector_module():
    """Outside functions/vector.py no file under gearpump_spark/ spells a
    DuckDB norm fold (SQRT(LIST_SUM(), a micro-unit quantization
    (x + 2.0) * 1000000 in either engine's spelling, a settable
    quantization offset (F.lit(offset)), or a milli-unit (or hundredth)
    rounding round(x * 1000) in either engine's spelling, with a literal
    or a settable scale, or a literal embedding-width range (V.EMBED_DIM)."""
    vector_module = ROOT / "gearpump_spark" / "functions" / "vector.py"
    patterns = {
        "SQRT(LIST_SUM(": re.compile(r"SQRT\(LIST_SUM\(", re.I),
        "a + 2.0) * 1000000 quantization": re.compile(
            r"2\.0\)\)?\s*\*\s*(F\.lit\()?1000000"
        ),
        "F.lit(offset)": re.compile(r"F\.lit\(offset\)"),
        "F.round(x * 1000, 0) milli units": re.compile(
            r"F\.round\(.*\*\s*(1000?|scale),\s*0\)"
        ),
        "ROUND(CAST(x AS DOUBLE) * 1000) milli units": re.compile(
            r"ROUND\(CAST\(.{0,60} AS DOUBLE\)\s*\*\s*1000?(,\s*0)?\)", re.I
        ),
        "RANGE(1, 65) embedding width": re.compile(r"RANGE\((0, 64|1, 65|33, 65)\)", re.I),
    }
    found = [
        f"{path.relative_to(ROOT)}: {label}"
        for path in sorted((ROOT / "gearpump_spark").rglob("*.py"))
        if path != vector_module
        for label, pat in patterns.items()
        if pat.search(path.read_text())
    ]
    assert not found, (
        "vector arithmetic outside functions/vector.py; use V.dot / "
        "V.l2_norm / V.cosine / V.micro_units / V.milli_units or their V.sql_* "
        "twins: "
        + "; ".join(found)
    )


def test_fixture_embeddings_are_embed_dim_wide(spark, sf_dir, duck):
    """The oracles that spell a per-coordinate range and the callers that
    pass a width take V.EMBED_DIM; the embeddings are that wide in both
    engines."""
    from pyspark.sql import functions as F

    from gearpump_spark.datasets import table
    from gearpump_spark.functions import vector as V

    emb = table(spark, sf_dir, "embeddings")
    assert {r[0] for r in emb.select(F.size("embedding")).distinct().collect()} == {V.EMBED_DIM}
    assert duck.execute("SELECT DISTINCT LEN(embedding) FROM embeddings").fetchall() == [
        (V.EMBED_DIM,)
    ]


def test_whitespace_split_only_in_text_module():
    """Outside functions/text.py no file under gearpump_spark/ splits on
    whitespace itself: no DuckDB REGEXP_SPLIT_TO_ARRAY, no F.split over
    WS_RE or a \\s class, and no \\s+ pattern in any spelling. Nor does
    it extract lowercase letter runs ([a-z]+), the other token form."""
    text_module = ROOT / "gearpump_spark" / "functions" / "text.py"
    found = []
    for path in sorted((ROOT / "gearpump_spark").rglob("*.py")):
        if path == text_module:
            continue
        src = path.read_text()
        rel = path.relative_to(ROOT)
        if "REGEXP_SPLIT_TO_ARRAY(" in src:
            found.append(f"{rel}: REGEXP_SPLIT_TO_ARRAY(")
        for span in _call_spans(src, "F.split("):
            if "WS_RE" in span or "\\s" in span:
                found.append(f"{rel}: {span}")
        if re.search(r"\\{1,2}s\+", src):
            found.append(f"{rel}: a \\s+ pattern")
        if "[a-z]+" in src:
            found.append(f"{rel}: a [a-z]+ letter-run pattern")
    assert not found, (
        "whitespace split outside functions/text.py; use TX.tokens / "
        "TX.lower_tokens / TX.ngrams / TX.letter_runs or their TX.sql_* twins: " + "; ".join(found)
    )


def test_no_read_stream_in_queries():
    """No registered-query module opens a stream source itself; they
    read fixture tables through datasets.stream_table."""
    found = sorted(
        path.name
        for path in (ROOT / "gearpump_spark" / "queries").glob("*.py")
        if "readStream" in path.read_text()
    )
    assert not found, "readStream in a query module; use datasets.stream_table: " + ", ".join(found)
