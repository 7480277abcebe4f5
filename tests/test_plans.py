"""Physical-plan shape locks for the single-query serving paths.

Every assertion reads ``explain("formatted")`` of a lazily built query
DataFrame — explaining launches no Spark job — over ONE persisted index.
The locked properties are the ones the query path's performance rests
on: how many times the postings table is scanned, that the term
predicate reaches parquet as a pushed ``In(term, …)`` /
``StringStartsWith(term, …)`` filter, that top-k runs as
TakeOrderedAndProject (per-partition heap + driver merge), and how many
joins are sort-merge joins (none on the fused single-scan plans).
"""

from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from dump_plans import cap_plan, summarize  # noqa: E402

from miru_spark.index import InvertedIndex  # noqa: E402
from miru_spark.query.bm25 import (  # noqa: E402
    search,
    search_dismax,
    search_min_should_match,
)
from miru_spark.query.phrase import search_phrase  # noqa: E402


@pytest.fixture(scope="module")
def pidx(spark, tiny_turns, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans_idx"))
    return InvertedIndex.build_persisted(tiny_turns, path, positions=True)


def _summary_count(summary: str, label: str) -> int:
    return int(re.search(rf"- {label}: (\d+)", summary).group(1))


def _postings_pushed(plan: str) -> list[str]:
    """PushedFilters of every parquet scan over the postings table."""
    scans = re.findall(
        r"\(\d+\) Scan parquet[^\n]*\n(.*?)\n\n", plan + "\n\n", flags=re.S
    )
    out = []
    for body in scans:
        if re.search(r"Location: [^\n]*/postings\]", body):
            m = re.search(r"PushedFilters: \[([^\n]*)\]", body)
            out.append(m.group(1) if m else "")
    return out


# shape -> (query builder, SortMergeJoin and TakeOrderedAndProject as
# summarize() reports them, PushedFilters of each postings scan). The
# summary counts an operator twice: once in the plan tree and once in
# its detail section. A one-element ``isin`` is pushed as ``EqualTo``.
SHAPES = {
    "fused_and": (
        lambda i: search(i, "w00001 AND w00002", k=10),
        0, 2, ["In(term, [w00001,w00002]), IsNotNull(term)"],
    ),
    "and_not": (
        lambda i: search(i, "w00001 AND NOT w00002", k=10),
        0, 2, ["Or(EqualTo(term,w00001),EqualTo(term,w00002))"],
    ),
    "peeled_role": (
        lambda i: search(i, "w00001 AND role:assistant", k=10),
        0, 2, ["IsNotNull(term), EqualTo(term,w00001), IsNotNull(docint)"],
    ),
    # the tree plan: matching postings scan, then scoring under a semi-join
    "filter_tree": (
        lambda i: search(i, "w00001 OR role:user", k=10),
        2, 2, [
            "IsNotNull(term), EqualTo(term,w00001)",
            "IsNotNull(term), EqualTo(term,w00001), IsNotNull(docint)",
            "IsNotNull(term), EqualTo(term,w00001), IsNotNull(docint)",
        ],
    ),
    "keyset_page2": (
        lambda i: search(i, "w00001 OR w0001*", k=10, after=0.5, exclude=[1, 2, 3]),
        0, 2, [
            "Or(EqualTo(term,w00001),StringStartsWith(term,w0001)), "
            "Not(In(docint, [1,2,3])), IsNotNull(term)"
        ],
    ),
    # scoring scan, then one position scan per phrase term
    "phrase": (
        lambda i: search_phrase(i, "w00001 w00002", k=10),
        2, 2, [
            "In(term, [w00001,w00002]), IsNotNull(docint), IsNotNull(term)",
            "IsNotNull(term), EqualTo(term,w00002), IsNotNull(docint)",
            "IsNotNull(term), EqualTo(term,w00001), IsNotNull(docint)",
        ],
    ),
    "dismax": (
        lambda i: search_dismax(i, "w00001 OR w00002", tie_breaker=0.1, k=10),
        0, 2, ["In(term, [w00001,w00002]), IsNotNull(term)"],
    ),
    "min_should_match": (
        lambda i: search_min_should_match(i, "w00001 OR w00002 OR w0001*", m=2, k=10),
        0, 2, [
            "Or(In(term, [w00001,w00002]),StringStartsWith(term,w0001)), "
            "IsNotNull(term)"
        ],
    ),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_query_plan_shape(pidx, shape):
    build, n_smj, n_topk, pushed = SHAPES[shape]
    plan = cap_plan(build(pidx))
    summary = summarize(plan)
    assert _summary_count(summary, "SortMergeJoin") == n_smj, plan
    assert _summary_count(summary, "TakeOrderedAndProject") == n_topk, plan
    assert _postings_pushed(plan) == pushed, plan
