"""Every Python stage runs once per action.

A global range sort samples its input in a Spark job of its own, and that
job re-runs everything between the sort's exchange and the exchange
below it. A Python stage (mapInPandas) in that stretch runs twice per
action. operators/multimodal.py sorted_python_stage range-partitions the
ids before the stages and sorts within partitions after them, so the
sample reads only the scan.

Two checks over every registered query, built once at sf0.001 (the
session fixture ``built`` in tests/conftest.py):

1. Plan: no Python node sits below a rangepartitioning exchange without
   another exchange in between, read from the initial physical plan (no
   execution).
2. Runs: each Python node's input rows, counted inside the worker over
   one noop save, equal its input's row count. This also catches a node
   that runs twice for another reason, such as a self-join that reads
   the stage from both sides.
"""

from __future__ import annotations

import re

import pytest

PYTHON_NODES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "EvalPython")


def _depth(line: str) -> int:
    """Tree depth of one line of a physical plan's tree string."""
    m = re.search(r"[+:]- ", line)
    return m.start() // 3 + 1 if m else 0


def python_below_range_exchange(plan: str) -> list[str]:
    """The Python nodes of ``plan`` that feed a rangepartitioning
    exchange with no exchange in between."""
    lines = plan.splitlines()
    found = []
    for i, line in enumerate(lines):
        if "Exchange rangepartitioning" not in line:
            continue
        top, cut = _depth(line), None
        for below in lines[i + 1 :]:
            d = _depth(below)
            if d <= top:
                break
            if cut is not None and d > cut:
                continue  # under a nearer exchange
            cut = d if "Exchange" in below else None
            if cut is None and any(node in below for node in PYTHON_NODES):
                found.append(below.strip().lstrip(":+- ").split(",")[0])
    return found


def test_range_exchange_detection():
    """The plan reader flags a Python node under a range exchange and
    passes one behind a nearer exchange."""
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- Sort [doc_id#1L ASC NULLS FIRST], true, 0
   +- Exchange rangepartitioning(doc_id#1L ASC NULLS FIRST, 4), ENSURE_REQUIREMENTS
      +- MapInPandas op(doc_id#0L)#6, [doc_id#1L, payload#2], false
         +- Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM
            +- FileScan parquet [doc_id#0L]
"""
    assert python_below_range_exchange(plan) == ["MapInPandas op(doc_id#0L)#6"]
    behind = plan.replace(
        "      +- MapInPandas",
        "      +- Exchange hashpartitioning(doc_id#1L, 4)\n         +- MapInPandas",
    )
    assert python_below_range_exchange(behind) == []


def test_no_python_stage_below_a_range_exchange(built):
    errors = {n: q.df for n, q in built.items() if isinstance(q.df, str)}
    assert not errors, errors
    bad = {}
    for name, q in built.items():
        nodes = python_below_range_exchange(q.executed_plan)
        if nodes:
            bad[name] = nodes
    assert not bad, (
        f"{len(bad)} queries run a Python stage inside a range sort's input, "
        "so the sort's sampling job runs it again (build them through "
        f"sorted_python_stage): {sorted(bad)}"
    )


def test_python_stages_run_once_per_action(built):
    """The noop save of each query that plans a Python stage feeds each
    Python node its input exactly once.
    test_jpeg_refined_fused_single_arrow_stage counts plan nodes; this
    counts runs."""
    staged = {name: q.nodes for name, q in built.items() if q.nodes}
    # the counting wrapper saw the stages (a vacuous pass otherwise)
    assert {"multimodal_jpeg_refined_real", "text_bpe_tokens"} <= set(staged)
    wrong = {}
    for name, nodes in sorted(staged.items()):
        expected = [child.count() for _, child in nodes]
        before = [acc.value for acc, _ in nodes]
        built[name].df.write.format("noop").mode("overwrite").save()
        seen = [acc.value - b for (acc, _), b in zip(nodes, before)]
        if seen != expected:
            wrong[name] = f"input rows seen {seen}, input rows {expected}"
    assert not wrong, f"Python nodes not run exactly once per save: {wrong}"


@pytest.mark.parametrize(
    "name, order",
    [
        ("multimodal_pixels_real", ["doc_id"]),
        ("multimodal_gif_frames_real", ["doc_id", "frame_idx"]),
        ("text_bpe_tokens", ["doc_id"]),
    ],
)
def test_sorted_python_stage_keeps_global_order(built, name, order):
    """A range-partitioned, partition-sorted result collects in the same
    order a global orderBy gave: ascending key, then the secondary
    column a fan-out stage emits."""
    rows = [tuple(r) for r in built[name].df.select(*order).collect()]
    assert len(rows) > 1 and rows == sorted(rows)
