"""Serving plan chooser: flat postings vs block-max per query.

The two physical paths answer the same logical query (rank-identical —
asserted in tests and the r1 soak), but their economics differ:

- **AND**: the block-id semi-join prunes before any decode — measured
  2.4x over flat at an 83.5M-posting corpus (BENCH/BASELINE.md §soak).
  Wins whenever the corpus is big enough that scan cost dominates job
  overhead.
- **OR (WAND)**: the two-phase floor probe costs an extra job; below
  ~10^8-10^9 candidate postings the flat single-scan wins (measured:
  flat 1.6 s vs WAND 3.4 s at 83.5M), above it the floor prune skips
  the bulk of the decode work.

``search_auto`` picks per query from the term-stats table: the sum of
the query terms' document frequencies estimates the candidate posting
mass (exact for OR, an upper bound for AND). The estimate costs one
tiny aggregate over the (cached, broadcast-sized per query) terms
relation — the reference's analogous pre-read is the global
cardinality row (``LabFieldIndex.getGlobalCardinality``).

Reference analog for racing/choosing among equivalent plans:
``MiruSolver`` / ``MiruLowestLatencySolver`` race replicas; Spark-side
the engine instead picks the cheaper physical plan up front from
statistics — the Catalyst-flavored equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miru_spark.index import InvertedIndex
from miru_spark.query.ast import Node, Prefix
from miru_spark.query.blockmax import search_blocks_and, search_blocks_or
from miru_spark.query.bm25 import _fusable, _with_meta, search
from miru_spark.query.parser import parse_query

# measured crossovers (BENCH/BASELINE.md): AND blocks win once the scan
# is non-trivial; OR needs enough posting mass to amortize the floor
# probe's extra job. Both are per-QUERY posting-mass thresholds.
AND_MIN_POSTINGS = 1_000_000
OR_WAND_MIN_POSTINGS = 500_000_000


def estimate_postings(index: InvertedIndex, terms: list[str]) -> int:
    """Σ df over the query's terms — candidate posting mass (one tiny
    agg over the cached term-stats relation)."""
    row = (
        index.terms.where(F.col("term").isin(list(terms)))
        .agg(F.sum("df"))
        .collect()[0]
    )
    return int(row[0] or 0)


def search_auto(
    index: InvertedIndex,
    query: str | Node,
    k: int = 10,
    and_min_postings: int = AND_MIN_POSTINGS,
    or_wand_min_postings: int = OR_WAND_MIN_POSTINGS,
) -> DataFrame:
    """Top-k search through the cheaper physical path.

    Falls back to the flat engine when the query is not a pure AND/OR
    of exact text terms, when no block segments exist, or when the
    posting-mass estimate says the flat scan is cheaper. Output schema
    and ranking are identical either way.
    """
    node = parse_query(query, index.analyzer) if isinstance(query, str) else query
    plan = choose_plan(
        index, node,
        and_min_postings=and_min_postings,
        or_wand_min_postings=or_wand_min_postings,
    )
    if plan == "flat":
        return search(index, node, k=k)
    mode, leaves = _fusable(node)
    terms = sorted({l.value for l in leaves})
    if plan == "blocks_and":
        return _with_meta(index, search_blocks_and(index, terms, k=k))
    return _with_meta(index, search_blocks_or(index, terms, k=k))


def choose_plan(
    index: InvertedIndex,
    node: Node,
    and_min_postings: int = AND_MIN_POSTINGS,
    or_wand_min_postings: int = OR_WAND_MIN_POSTINGS,
) -> str:
    """'flat' | 'blocks_and' | 'blocks_or' for a parsed query node."""
    if index.blocks is None:
        return "flat"
    f = _fusable(node)
    if f is None:
        return "flat"
    mode, leaves = f
    if any(isinstance(l, Prefix) for l in leaves):
        return "flat"  # block paths take exact terms only
    if any(l.boost != 1.0 for l in leaves):
        # block-max metadata is computed with unboosted idf, so the
        # WAND bounds don't hold under '^B' weights — flat scores those
        return "flat"
    terms = sorted({l.value for l in leaves})
    est = estimate_postings(index, terms)
    if mode == "and" and len(terms) > 1 and est >= and_min_postings:
        return "blocks_and"
    if mode == "or" and est >= or_wand_min_postings:
        return "blocks_or"
    return "flat"
