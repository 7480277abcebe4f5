"""Alternative ranking functions over the inverted index.

The reference serves two strategies — TF_IDF and TIME
(``miru-stream-plugins/.../fulltext/FullText.java:99-251``); this module
adds the two most-requested third options from the wider IR toolbox,
both expressed over the same postings relations with zero new storage:

- :func:`search_recency` — BM25 × exponential time decay, the
  Elasticsearch ``function_score``/``exp`` decay blend. The reference
  approximates recency by serving newest partitions first and stopping
  early (``FullTextCustomQuestion.java:62-67``); a decay blend ranks
  *within* the answer instead of truncating it.
- :func:`search_lm_dirichlet` — query-likelihood language model with
  Dirichlet smoothing (Lucene ``LMDirichletSimilarity`` semantics):
  score(d) = Σ_{t∈q, tf>0} [ ln(1 + tf·T/(μ·cf_t)) + ln(μ/(μ+|d|)) ]
  where T = total corpus tokens (Σ cf — an exact integer on both the
  engine and oracle sides) and cf_t the term's collection frequency.

Scale notes (100 TB): both are one postings scan joined against a
broadcast query-term relation, one groupBy(docint) partial-agg, then
TakeOrderedAndProject top-k — the flagship BM25 shape. Recency joins
``ts`` onto the match set *before* the heap (decay changes the order,
so it cannot ride after the limit); that join is keyed on docint like
every other match-set join. Metadata (conv_id, turn_idx) still joins
AFTER the limit — k rows only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miru_spark.index import InvertedIndex
from miru_spark.query.ast import Node, positive_text_leaves
from miru_spark.query.bm25 import _live, scored_matches
from miru_spark.query.filters import expand_multiterm, text_leaves_pred
from miru_spark.query.parser import parse_query


def search_recency(
    index: InvertedIndex,
    query: str | Node,
    ref_ts: str,
    half_life_s: float = 604_800.0,
    k: int = 10,
    ts_lo=None,
    ts_hi=None,
) -> DataFrame:
    """Top-k by ``bm25 · 2^(-age/half_life)`` where age =
    ``max(ref_ts - doc.ts, 0)`` in seconds. ``ref_ts`` is an explicit
    caller scalar (never wall-clock) so results are reproducible. Age is
    clamped at 0 so docs newer than ``ref_ts`` decay to exactly 1.0
    rather than getting a >1 boost — Elasticsearch exp-decay semantics,
    where the multiplier never exceeds 1 (decay is a distance function).

    Returns (conv_id, turn_idx, docint, score) ordered by
    (score desc, docint desc) — the engine's standard tie-break.
    """
    sm = scored_matches(index, query, ts_lo=ts_lo, ts_hi=ts_hi)
    ref = F.to_timestamp(F.lit(ref_ts))
    decayed = (
        sm.join(index.docs.select("docint", "ts"), "docint")
        .withColumn(
            "score",
            F.col("score")
            * F.pow(
                F.lit(0.5),
                F.greatest(
                    F.unix_timestamp(ref) - F.unix_timestamp(F.col("ts")),
                    F.lit(0),
                )
                / F.lit(float(half_life_s)),
            ),
        )
        .select("docint", "score")
    )
    topk = decayed.orderBy(F.desc("score"), F.desc("docint")).limit(k)
    return (
        topk.join(index.docs.select("docint", "conv_id", "turn_idx"), "docint")
        .select("conv_id", "turn_idx", "docint", "score")
        # re-sort the k rows — the metadata join does not preserve order
        .orderBy(F.desc("score"), F.desc("docint"))
    )


def search_lm_dirichlet(
    index: InvertedIndex,
    query: str | Node,
    mu: float = 2000.0,
    k: int = 10,
) -> DataFrame:
    """Top-k under the Dirichlet-smoothed query-likelihood model
    (disjunctive: any doc matching ≥1 positive query term scores).

    Per matched (doc, term): ``ln(1 + tf·T/(μ·cf)) + ln(μ/(μ+doclen))``
    summed over matched terms — Lucene ``LMDirichletSimilarity``'s
    scoring of matching terms only. T = Σ cf over the whole term
    dictionary, aggregated from the broadcast-sized terms relation
    (exact integer — no float avgdl reconstruction).

    Returns (conv_id, turn_idx, docint, score), (score desc, docint
    desc) order.
    """
    node = parse_query(query, index.analyzer) if isinstance(query, str) else query
    node = expand_multiterm(index, node)
    leaves = list(dict.fromkeys(positive_text_leaves(node)))
    pred = text_leaves_pred(leaves)
    if pred is None:
        raise ValueError("lm_dirichlet needs at least one positive text term")

    # T rides along as a broadcast 1-row relation (same pattern as
    # significant_terms' answer size) — no driver collect
    total = index.terms.agg(F.sum("cf").alias("_T"))
    qterms = index.terms.where(pred).select("term", "cf")
    contribs = (
        index.postings.where(pred)
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "contrib",
            F.log(
                F.lit(1.0)
                + F.col("tf").cast("double")
                * F.col("_T").cast("double")
                / (F.lit(float(mu)) * F.col("cf").cast("double"))
            )
            + F.log(
                F.lit(float(mu))
                / (F.lit(float(mu)) + F.col("doclen").cast("double"))
            ),
        )
        .groupBy("docint")
        .agg(F.sum("contrib").alias("score"))
    )
    # removal mask BEFORE the heap — a tombstoned doc must not occupy a
    # top-k slot (MiruRemovalIndex semantics, masked out of every answer)
    topk = _live(index, contribs).orderBy(F.desc("score"), F.desc("docint")).limit(k)
    return (
        topk.join(index.docs.select("docint", "conv_id", "turn_idx"), "docint")
        .select("conv_id", "turn_idx", "docint", "score")
        .orderBy(F.desc("score"), F.desc("docint"))
    )
