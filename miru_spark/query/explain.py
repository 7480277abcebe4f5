"""Score explanation: per-(hit, term) BM25 contribution breakdown.

Lucene's ``Explanation`` tree (surfaced by the reference through its
Lucene-backed query layer) decomposes a hit's score into per-term
tf/idf/norm factors so a relevance engineer can see WHY doc A outranks
doc B. The Spark-native shape is relational: one row per (hit, term)
carrying the raw factors (tf, df, doclen, idf) plus the term's
contribution and the hit's total score.

Scale (100 TB): the k hits are a broadcast relation; postings are
touched ONLY under the query's term predicate (index-only access, the
same pushdown as the fused search plan) and immediately semi-joined to
the k hit docints, so the breakdown costs one pruned postings scan
producing ≤ k · n_query_terms rows — never a corpus-sized intermediate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miru_spark.index import InvertedIndex
from miru_spark.query.bm25 import _fusable, _scan_pred, _weighted, search
from miru_spark.query.parser import parse_query


def explain_scores(
    index: InvertedIndex, query, k: int = 10, **search_kw
) -> DataFrame:
    """One row per (top-k hit, matched query term):
    (conv_id, turn_idx, docint, term, tf, doclen, idf, contrib, score)
    in (score desc, docint desc, term asc) order.

    Supports the fused query class (AND/OR of text terms/prefixes —
    plus AND-with-NOT, whose negated terms never score and so never
    appear in the breakdown — after the multi-term rewrite); raises
    ``ValueError`` otherwise — filter-tree queries have no per-term
    score decomposition.
    """
    from miru_spark.query.bm25 import _fusable_not, _peel_meta_conjuncts
    from miru_spark.query.filters import expand_multiterm

    node = expand_multiterm(
        index, parse_query(query, index.analyzer) if isinstance(query, str) else query
    )
    # metadata conjuncts select hits but never score — peel them exactly
    # like search()'s fused plan and explain the text subtree
    sub, _pm, _nm = _peel_meta_conjuncts(node)
    f = _fusable(sub) if sub is not None else None
    if f is None:
        fn = _fusable_not(sub) if sub is not None else None
        if fn is None:
            raise ValueError("explain_scores supports fusable AND/OR text queries")
        f = ("and", fn[0])  # breakdown covers scoring (positive) terms only
    _, leaves = f

    hits = search(index, query, k=k, **search_kw).select(
        "conv_id", "turn_idx", "docint", "score"
    )

    pred = _scan_pred(leaves)
    rows = _weighted(
        index, leaves, pred, index.postings.where(pred).join(F.broadcast(hits), "docint")
    )
    return rows.select(
        "conv_id",
        "turn_idx",
        "docint",
        "term",
        "tf",
        "doclen",
        "idf",
        "contrib",
        "score",
    ).orderBy(F.desc("score"), F.desc("docint"), F.asc("term"))
