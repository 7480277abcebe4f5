"""Phrase search over the positions-bearing postings table.

The reference keeps per-doc term frequencies but not positions (its
fulltext plugin is bag-of-terms); positions are this engine's extension
enabled by the ``positions`` build flag (SURVEY.md §2.2 posting layout,
FIXTURES.md §3). Semantics: a doc matches the phrase iff the terms
appear consecutively in analyzed-token order — equivalent to a
substring match on the space-joined token stream, which is exactly what
the DuckDB oracle checks.

Plan: n-1 equi-joins on docint between the phrase terms' postings,
adjacency verified JVM-side with array_intersect over shifted position
arrays (no Python). Scoring = standard BM25 over the phrase's terms for
matching docs (phrase acts as the filter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miru_spark.index import InvertedIndex
from miru_spark.query.ast import Term
from miru_spark.query.bm25 import _scan_pred, _top_k, _weighted
from miru_spark.tokenize import tokenize_py


def _phrase_terms(index: InvertedIndex, phrase) -> list[str]:
    """A phrase arrives either as a raw string (public entry points —
    analyze it with the INDEX's analyzer, not the latin-only LogMill
    regex, or a ru/cjk phrase silently loses its terms) or as the
    already-analyzed value tuple of a parsed ``Phrase`` node (the
    filter evaluator) — analyzers are not idempotent, so never
    re-analyze those."""
    if not isinstance(phrase, str):
        return list(phrase)
    analyzer = getattr(index, "analyzer", "standard") or "standard"
    if analyzer == "standard":
        return tokenize_py(phrase)
    from miru_spark.analyzers import analyze_py

    return analyze_py(phrase, analyzer)


def phrase_match_docs(
    index: InvertedIndex, phrase, slop: int = 0
) -> DataFrame:
    """docints whose token stream contains the analyzed phrase.

    Plan: a phrase occurrence starting at position s puts term i at
    position s+i, so SHIFT-NORMALIZED position sets (positions − i)
    intersect to the occurrence starts REGARDLESS of join order. The
    chain therefore starts from the RAREST phrase term (df from the
    tiny cached term-stats lookup): every subsequent position join is
    bounded by the rarest term's posting count, not the first/stopword
    term's — the classic leading-term optimization of phrase engines.

    ``slop > 0`` relaxes adjacency to ordered proximity (terms in order
    within a window of ``len(terms) - 1 + slop`` positions, the
    ``"a b"~N`` query form) and routes to the greedy position-chain
    evaluator in :func:`proximity_match_docs`."""
    terms = _phrase_terms(index, phrase)
    if not terms:
        raise ValueError("phrase analyzes to no terms")
    if "positions" not in index.postings.columns:
        raise ValueError("index built without positions; rebuild with positions=True")
    if slop > 0:
        return proximity_match_docs(index, terms, slop)
    dfs = {
        r["term"]: r["df"]
        for r in index.terms.where(
            F.col("term").isin(sorted(set(terms)))
        ).collect()
    }
    order = sorted(range(len(terms)), key=lambda i: (dfs.get(terms[i], 0), i))

    def norm_positions(i: int) -> DataFrame:
        return index.postings.where(F.col("term") == terms[i]).select(
            "docint",
            F.transform("positions", lambda x: x - F.lit(i)).alias("_p"),
        )

    df = norm_positions(order[0]).withColumnRenamed("_p", "_carry")
    for i in order[1:]:
        df = (
            df.join(norm_positions(i), "docint")
            .withColumn("_carry", F.array_intersect("_carry", "_p"))
            .where(F.size("_carry") > 0)
            .drop("_p")
        )
    out = df.select("docint")
    if index.tombstones is not None:
        # removal mask applies to every serving path (MiruRemovalIndex)
        out = out.join(index.tombstones.select("docint"), "docint", "left_anti")
    return out


def _advance(carry, positions):
    """One greedy step: for each (start, cur) pair, cur := the smallest
    position in ``positions`` beyond cur; drop pairs that can't advance.
    (Single-arg lambdas only — PySpark infers HOF arity from the Python
    parameter count, so default-arg capture would flip transform into
    its (element, index) form.)"""

    def step(s):
        nxt = F.array_min(F.filter(positions, lambda p: p > s["cur"]))
        return F.struct(s["start"].alias("start"), nxt.alias("cur"))

    return F.filter(F.transform(carry, step), lambda s: s["cur"].isNotNull())


def proximity_match_docs(
    index: InvertedIndex, terms: list[str], slop: int
) -> DataFrame:
    """docints where ``terms`` appear in order within a window of
    ``len(terms) - 1 + slop`` positions (ordered proximity, the
    ``"a b"~N`` semantics; slop 0 degenerates to the exact phrase).

    Plan: a rarest-term semi-join bounds the candidate docs before any
    position work, then the remaining terms' position arrays are joined
    on docint IN PHRASE ORDER and evaluated with a greedy chain of
    higher-order array functions — for each candidate start position of
    term 0, repeatedly take the SMALLEST position of the next term that
    is beyond the current end (greedy is optimal for ordered matching:
    it minimizes the final window for every start). All JVM-side
    (transform/filter/array_min/exists), no Python in the path; the
    per-doc arrays are position lists of single docs, so the quadratic
    factor is bounded by per-doc term frequency, not corpus size."""
    dfs = {
        r["term"]: r["df"]
        for r in index.terms.where(
            F.col("term").isin(sorted(set(terms)))
        ).collect()
    }
    rarest = min(range(len(terms)), key=lambda i: (dfs.get(terms[i], 0), i))

    def positions_of(i: int) -> DataFrame:
        return index.postings.where(F.col("term") == terms[i]).select(
            "docint", F.col("positions").alias(f"_p{i}")
        )

    df = positions_of(0)
    if rarest != 0:
        df = df.join(
            index.postings.where(F.col("term") == terms[rarest]).select("docint"),
            "docint",
            "left_semi",
        )
    for i in range(1, len(terms)):
        df = df.join(positions_of(i), "docint")

    # greedy chain: carry (start, cur) pairs, advance cur through each
    # successive term's positions, keep pairs that can still complete
    carry = F.transform(
        F.col("_p0"), lambda p: F.struct(p.alias("start"), p.alias("cur"))
    )
    for i in range(1, len(terms)):
        carry = _advance(carry, F.col(f"_p{i}"))
    window = len(terms) - 1 + slop
    out = df.where(
        F.exists(carry, lambda s: s["cur"] - s["start"] <= F.lit(window))
    ).select("docint")
    if index.tombstones is not None:
        out = out.join(index.tombstones.select("docint"), "docint", "left_anti")
    return out


def search_phrase(
    index: InvertedIndex, phrase: str, k: int = 10, slop: int = 0
) -> DataFrame:
    """Top-k BM25 over docs containing the phrase (``slop`` relaxes to
    ordered proximity, see :func:`phrase_match_docs`)."""
    seq = _phrase_terms(index, phrase)
    leaves = [Term(t) for t in sorted(set(seq))]
    matched = phrase_match_docs(index, seq, slop=slop)
    scored = (
        _weighted(index, leaves, _scan_pred(leaves), within=matched)
        .groupBy("docint")
        .agg(F.sum("contrib").alias("score"))
    )
    return _top_k(index, scored, k)
