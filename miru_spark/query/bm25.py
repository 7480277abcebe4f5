"""BM25 top-k search — the engine's flagship query path.

Reference scoring loop: ``FullText.collectTfIdf``
(``miru-stream-plugins/.../fulltext/FullText.java:99-220``) — per query
term a global multiplier (:118-127), per doc an accumulated
``multiplier · tf`` (:187-199), a size-k min-max heap (:129-135), merged
across partitions sorted by (score desc, id desc)
(``FullTextAnswer.java:64-90``, ``FullTextAnswerMerger.java:31-68``).
The TIME strategy returns the newest k matches
(``FullText.collectTime:222-251``).

Spark-first re-expression (this module): the filtered answer set comes
from the filter evaluator (postings joins, never a corpus scan); scoring
is one ``postings ⋈ query_terms → groupBy(docint) → sum`` with the term
weights *broadcast* (the query-term stats table is tiny); top-k is
``orderBy(score desc, docint desc).limit(k)``, which Spark executes as
TakeOrderedAndProject — a per-partition k-heap + driver merge, i.e.
exactly the reference's heap+merge, minus the hand-rolled code. The
upgrade from the reference's raw TF-IDF multiplier to proper BM25
(k1/b, doclen normalization) is deliberate (north rule).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from miru_spark.index import InvertedIndex
from miru_spark.query.ast import Node, positive_text_leaves, Prefix, Term
from miru_spark.query.filters import FilterEvaluator, text_leaves_pred
from miru_spark.query.parser import parse_query

K1 = 1.2
B = 0.75


def idf_col(df: Column, n_docs: int) -> Column:
    """Lucene/ATIRE-style BM25 idf: ln(1 + (N - df + .5)/(df + .5)) ≥ 0."""
    return F.log(
        F.lit(1.0) + (F.lit(float(n_docs)) - df + F.lit(0.5)) / (df + F.lit(0.5))
    )


def bm25_contrib(tf: Column, idf: Column, doclen: Column, avgdl: float) -> Column:
    denom = tf + F.lit(K1) * (
        F.lit(1.0 - B) + F.lit(B) * doclen / F.lit(float(avgdl))
    )
    return idf * tf * F.lit(K1 + 1.0) / denom


@dataclass
class SearchResult:
    df: DataFrame  # conv_id, turn_idx, docint, score — already top-k ordered


def _fusable(node: Node) -> tuple[str, list] | None:
    """Detect pure AND/OR of text Term/Prefix leaves → ('and'|'or', leaves).

    These queries need no separate filter evaluation: ONE postings scan
    + ONE groupBy computes both the match predicate (per-leaf presence
    indicators) and the BM25 score — half the shuffles of the general
    tree plan.

    Same-operator nesting flattens first (associativity: ``(a AND b)
    AND c`` ≡ ``a AND b AND c``), so parenthesized queries of one
    operator still take the fused plan."""
    from miru_spark.query.ast import And, Or

    def text_leaves(children) -> list | None:
        out = []
        for c in children:
            # '^B' boosts fuse too: the broadcast weight table carries
            # idf·boost per term (see _query_term_weights)
            if isinstance(c, (Term, Prefix)) and c.field == "text":
                out.append(c)
            else:
                return None
        return out

    if isinstance(node, (Term, Prefix)) and node.field == "text":
        return ("and", [node])
    if isinstance(node, And):
        leaves = text_leaves(_flat_children(node, And))
        if leaves:
            return ("and", leaves)
    if isinstance(node, Or):
        leaves = text_leaves(_flat_children(node, Or))
        if leaves:
            return ("or", leaves)
    return None


def _flat_children(node, cls) -> list:
    """Children of ``node`` with same-operator nesting flattened."""
    out: list = []
    for c in node.children:
        if isinstance(c, cls):
            out.extend(_flat_children(c, cls))
        else:
            out.append(c)
    return out


def _fusable_not(node: Node) -> tuple[list, list] | None:
    """Detect ``And(text leaves…, Not(text leaf|Or-of-leaves)…)`` →
    (positive_leaves, negative_leaves), else None.

    pButNotQ (reference ``MiruBitmaps.andNot``) on the fused single-scan
    plan: the one postings scan widens its term predicate to the negated
    terms, which contribute a disqualifying presence flag to the same
    aggregation but NO score weight — the tree plan's extra term-lookup
    joins and the left_anti join disappear. ``NOT (a OR b)`` flattens
    (any negated term present disqualifies); ``NOT (a AND b)`` is not
    expressible with one any-present flag and falls back."""
    from miru_spark.query.ast import And, Not, Or

    if not isinstance(node, And):
        return None
    pos: list = []
    neg: list = []

    def collect_neg(n) -> bool:
        if isinstance(n, (Term, Prefix)) and n.field == "text":
            neg.append(n)
            return True
        if isinstance(n, Or):
            return all(collect_neg(c) for c in n.children)
        return False

    for c in _flat_children(node, And):
        if isinstance(c, (Term, Prefix)) and c.field == "text":
            pos.append(c)
        elif isinstance(c, Not):
            if not collect_neg(c.child):
                return None
        else:
            return None
    if not pos or not neg:
        return None  # pure AND is _fusable's case; pure NOT needs a seed
    return pos, neg


def _is_doc_meta_leaf(n) -> bool:
    """A leaf evaluable as a plain predicate on the docs row-store
    (role:assistant, tool:ba*, turn_idx:[2 TO 5], authz any-of, …) —
    everything :func:`filters._meta_pred` handles. Text-field leaves,
    phrases, and text numeric ranges are NOT doc-meta leaves."""
    from miru_spark.query.ast import (
        DEFAULT_FIELD,
        AuthzAny,
        Fuzzy,
        Range,
        Regexp,
        Wildcard,
    )

    return (
        isinstance(n, (Term, Prefix, Wildcard, Fuzzy, Regexp, Range, AuthzAny))
        and getattr(n, "field", DEFAULT_FIELD) != DEFAULT_FIELD
    )


def _peel_meta_conjuncts(node: Node):
    """Split a top-level And into (text subtree, pos_meta, neg_meta).

    ``role:assistant AND batch`` and friends otherwise fall off the
    fused single-scan plan solely because of the metadata conjunct and
    pay the general tree plan (a second postings scan + intersect
    joins). Metadata equality/prefix/range/authz conjuncts — and their
    negations — are doc-level predicates, i.e. exactly the shape the
    fused plan's existing doc-mask (time-range) semi-join consumes: one
    docs scan with the predicates PUSHED to parquet, one left_semi
    after the aggregation. The reference evaluates these the same way —
    field filters AND bitmap-intersect into the answer mask
    (MiruAggregateUtil.java:1098-1202) orthogonally to scoring.

    Returns ``(node, [], [])`` unchanged when there is nothing to peel;
    ``(None, …)`` when peeling would leave no text subtree (pure-
    metadata conjunction — the tree plan's job)."""
    from miru_spark.query.ast import And, Not

    if not isinstance(node, And):
        return node, [], []
    pos_meta: list = []
    neg_meta: list = []
    keep: list = []
    for c in _flat_children(node, And):
        if _is_doc_meta_leaf(c):
            pos_meta.append(c)
        elif isinstance(c, Not) and _is_doc_meta_leaf(c.child):
            neg_meta.append(c.child)
        else:
            keep.append(c)
    if not (pos_meta or neg_meta):
        return node, [], []
    if not keep:
        return None, pos_meta, neg_meta
    sub = keep[0] if len(keep) == 1 else And(tuple(keep))
    return sub, pos_meta, neg_meta


def _doc_mask(index: InvertedIndex, ts_lo, ts_hi, pos_meta=(), neg_meta=()):
    """ONE docs scan combining the time-range mask and any peeled
    metadata conjuncts into a docint set for the fused plan's post-agg
    semi-join. Negated leaves null-guard (a doc with a NULL field does
    not match ``role:user``, so ``NOT role:user`` keeps it — matching
    the tree plan's left_anti exactly)."""
    from miru_spark.query.filters import _meta_pred

    preds = []
    if ts_lo is not None:
        preds.append(F.col("ts") >= F.lit(ts_lo))
    if ts_hi is not None:
        preds.append(F.col("ts") <= F.lit(ts_hi))
    for l in pos_meta:
        preds.append(_meta_pred(l))
    for l in neg_meta:
        preds.append(~F.coalesce(_meta_pred(l), F.lit(False)))
    if not preds:
        return None
    pred = preds[0]
    for p in preds[1:]:
        pred = pred & p
    return index.docs.where(pred).select("docint")


def _meta_fields_known(index: InvertedIndex, leaves) -> bool:
    cols = set(index.docs.columns)
    return all(l.field in cols for l in leaves)


def _plan_fused(index: InvertedIndex, node: Node, ts_lo, ts_hi):
    """Try the fused single-scan plan, peeling doc-metadata conjuncts
    into the doc mask. Returns (mode, leaves, neg_leaves, doc_mask) or
    None (caller falls back to the tree plan on the ORIGINAL node)."""
    sub, pos_meta, neg_meta = _peel_meta_conjuncts(node)
    if sub is None:
        return None
    if (pos_meta or neg_meta) and not _meta_fields_known(
        index, [*pos_meta, *neg_meta]
    ):
        return None
    fused = _fusable(sub)
    negs = None
    if fused is None:
        fnot = _fusable_not(sub)
        if fnot is None:
            return None
        fused, negs = ("and", fnot[0]), fnot[1]
    mask = _doc_mask(index, ts_lo, ts_hi, pos_meta, neg_meta)
    return fused[0], fused[1], negs, mask


def _page_pred(after: float | None, exclude):
    """Keyset-pagination predicate over the (score desc, docint desc)
    total order — the engine's resumable top-k.

    The reference resumes scoring with the previous answer's lowest
    score as a floor (``FullTextReport.lowestScore`` carried into
    ``FullText.java:134`` and compared per-doc at ``FullText.java:203``).
    Here the floor is ``round(score,4) <= round(after,4)`` — rounding is
    monotone, so every true next-page row survives it — and exactness at
    the tied boundary comes from ``exclude`` (the already-returned
    docints; k·pages values, a broadcast-trivial IN list). The floor is
    the pruning lever (drops the high-score mass before the sort), the
    id list is the correctness lever.
    """
    pred = None
    if after is not None:
        pred = F.round(F.col("score"), 4) <= F.lit(round(float(after), 4))
    if exclude:
        c = ~F.col("docint").isin([int(d) for d in exclude])
        pred = c if pred is None else (pred & c)
    return pred


def _query_term_weights(index: InvertedIndex, leaves: list, pred) -> DataFrame:
    """Broadcast (term, idf) weight table for positive text leaves.

    With '^B' clause boosts each leaf's matched terms carry ``idf·boost``
    and a term matched by several leaves takes the MAX weight — it still
    scores once (the postings predicate selects rows, it doesn't multiply
    them). The per-leaf union runs over the small term-stats table only,
    never the postings."""
    if any(l.boost != 1.0 for l in leaves):
        from miru_spark.query.filters import _leaf_pred

        parts_w = [
            index.terms.where(_leaf_pred(l)).select(
                "term",
                (idf_col(F.col("df"), index.n_docs) * F.lit(l.boost)).alias("idf"),
            )
            for l in leaves
        ]
        union_w = parts_w[0]
        for p in parts_w[1:]:
            union_w = union_w.unionByName(p)
        return F.broadcast(union_w.groupBy("term").agg(F.max("idf").alias("idf")))
    return F.broadcast(
        index.terms.where(pred).select(
            "term", idf_col(F.col("df"), index.n_docs).alias("idf")
        )
    )


# -- the three stages every single-query scorer composes --------------------
# 1. predicate: query leaves → postings scan predicate (_scan_pred)
# 2. weighting: scanned postings ⋈ broadcast term weights → contrib (_weighted)
# 3. top-k:     page predicate → TakeOrderedAndProject → metadata (_top_k)


def _scan_pred(leaves: list) -> Column | None:
    """Postings scan predicate for text Term/Prefix leaves: ONE ``isin``
    over the exact terms (pushed to parquet as ``In(term, …)``) OR'd
    with a ``startswith`` per prefix (``StringStartsWith``)."""
    exact = sorted({l.value for l in leaves if isinstance(l, Term)})
    prefixes = sorted({l.value for l in leaves if isinstance(l, Prefix)})
    pred = F.col("term").isin(exact) if exact else None
    for p in prefixes:
        c = F.col("term").startswith(p)
        pred = c if pred is None else (pred | c)
    return pred


def _weighted(
    index: InvertedIndex,
    leaves: list,
    pred,
    scanned: DataFrame | None = None,
    how: str = "inner",
    within: DataFrame | None = None,
) -> DataFrame:
    """Scanned postings (default: the postings under ``pred``) ⋈ the
    broadcast term weights of ``leaves`` (see :func:`_query_term_weights`)
    + each posting's BM25 ``contrib``, restricted to the ``within``
    docints (a left-semi join) when given. doclen rides on the posting
    rows, so scoring touches ONLY the postings table and the broadcast
    weights (index-only access path)."""
    if scanned is None:
        scanned = index.postings.where(pred)
    hits = scanned.join(_query_term_weights(index, leaves, pred), "term", how)
    if within is not None:
        hits = hits.join(within, "docint", "left_semi")
    return hits.withColumn(
        "contrib",
        bm25_contrib(
            F.col("tf").cast("double"),
            F.col("idf"),
            F.col("doclen").cast("double"),
            index.avg_doclen,
        ),
    )


def _with_meta(index: InvertedIndex, topk: DataFrame) -> DataFrame:
    """Metadata joins AFTER the limit (k rows, not the full answer set),
    then the k rows re-sort — the join does not preserve order."""
    meta = index.docs.select("docint", "conv_id", "turn_idx")
    return (
        topk.join(meta, "docint")
        .orderBy(F.desc("score"), F.desc("docint"))
        .select("conv_id", "turn_idx", "docint", "score")
    )


def _top_k(
    index: InvertedIndex, scored: DataFrame, k: int, page: Column | None = None
) -> DataFrame:
    """(docint, score, …) → the k best rows under (score desc, docint
    desc), which Spark runs as TakeOrderedAndProject (per-partition heap
    + driver merge), with their metadata. ``page`` (:func:`_page_pred`)
    lands between the aggregation and the heap."""
    if page is not None:
        scored = scored.where(page)
    topk = (
        scored.orderBy(F.desc("score"), F.desc("docint"))
        .limit(k)
        .select("docint", "score")
    )
    return _with_meta(index, topk)


def _live(index: InvertedIndex, df: DataFrame) -> DataFrame:
    """Removal mask (reference MiruAggregateUtil.java:1140): tombstoned
    docints never answer."""
    if index.tombstones is None:
        return df
    return df.join(index.tombstones.select("docint"), "docint", "left_anti")


def _fused_scored(
    index: InvertedIndex,
    mode: str,
    leaves: list,
    ts_filter,
    neg_leaves: list | None = None,
) -> DataFrame:
    """Unlimited (docint, score) for a fusable AND/OR query: ONE postings
    scan + ONE groupBy computes both the per-leaf presence indicators
    (the match predicate) and the BM25 score.

    ``neg_leaves`` (AND mode only, from :func:`_fusable_not`): negated
    text leaves ride the SAME postings scan — their rows carry no score
    weight (left join against the positive-only weight table leaves idf
    null, and null contribs fall out of the sum) but set a presence flag
    that disqualifies the doc in the same aggregation."""
    exact = sorted({l.value for l in leaves if isinstance(l, Term)})
    prefixes = sorted({l.value for l in leaves if isinstance(l, Prefix)})
    pred = _scan_pred(leaves)
    neg_pred = _scan_pred(neg_leaves) if neg_leaves else None
    # weight table covers POSITIVE leaves only — negated terms never score
    scan_pred = pred if neg_pred is None else (pred | neg_pred)
    hits = _weighted(
        index, leaves, pred, index.postings.where(scan_pred),
        "left" if neg_pred is not None else "inner",
    )
    # per-leaf presence indicators + score in ONE aggregation
    aggs = [F.sum("contrib").alias("score")]
    leaf_cols = []
    if exact:
        aggs.append(F.count_distinct(F.when(F.col("term").isin(exact), F.col("term"))).alias("_ne"))
    for i, p in enumerate(prefixes):
        aggs.append(
            F.max(F.when(F.col("term").startswith(p), 1).otherwise(0)).alias(f"_p{i}")
        )
        leaf_cols.append(f"_p{i}")
    if neg_pred is not None:
        aggs.append(F.max(F.when(neg_pred, 1).otherwise(0)).alias("_nn"))
    agg = hits.groupBy("docint").agg(*aggs)
    if mode == "and":
        need = (F.col("_ne") == len(exact)) if exact else F.lit(True)
        for c in leaf_cols:
            need = need & (F.col(c) == 1)
        agg = agg.where(need)
    if neg_pred is not None:
        agg = agg.where(F.col("_nn") == 0)
    if ts_filter is not None:
        agg = agg.join(ts_filter, "docint", "left_semi")
    return _live(index, agg).select("docint", "score")


def _scored(
    index: InvertedIndex, node: Node, ts_lo, ts_hi
) -> tuple[DataFrame, bool]:
    """(docint, score) for every match of a parsed, multiterm-expanded
    ``node`` — tombstones and the time-range mask applied — and whether
    the query has a positive text term to rank by (False: every score is
    0.0, a pure-metadata query).

    Fusable queries take the single-scan plan (:func:`_plan_fused`);
    everything else the tree plan: the filter evaluator's answer set,
    then one OR-of-leaf-predicates postings scan scores every text leaf
    shape (exact / prefix / wildcard / fuzzy) under a semi-join to it."""
    plan = _plan_fused(index, node, ts_lo, ts_hi)
    if plan is not None:
        mode, leaves, negs, mask = plan
        return _fused_scored(index, mode, leaves, mask, neg_leaves=negs), True
    matched = _matched(index, node, ts_lo, ts_hi)
    # a term matched by several leaves still scores once — the predicate
    # selects rows, it doesn't multiply them
    leaves = list(dict.fromkeys(positive_text_leaves(node)))
    pred = text_leaves_pred(leaves)
    if pred is None:
        return matched.select("docint", F.lit(0.0).alias("score")), False
    contribs = (
        _weighted(index, leaves, pred, within=matched)
        .groupBy("docint")
        .agg(F.sum("contrib").alias("score"))
    )
    # matched docs with no positive term still answer, at score 0
    # (the reference scores the whole filtered answer set, FullText.java:139)
    return (
        matched.join(contribs, "docint", "left")
        .withColumn("score", F.coalesce(F.col("score"), F.lit(0.0)))
        .select("docint", "score"),
        True,
    )


def _matched(index: InvertedIndex, node: Node, ts_lo, ts_hi) -> DataFrame:
    """The tree plan's answer set: the filter evaluator's docints, minus
    tombstones, semi-joined to the time-range mask against the (pruned)
    doc table. ``node`` is already multiterm-expanded, so it goes to the
    evaluator's dispatch directly — ``matching_docs`` would expand it
    again, re-running the dictionary probe of an over-cap wildcard."""
    matched = _live(index, FilterEvaluator(index)._eval(node))
    ts_filter = _doc_mask(index, ts_lo, ts_hi)
    if ts_filter is not None:
        matched = matched.join(ts_filter, "docint", "left_semi")
    return matched


def scored_matches(
    index: InvertedIndex,
    query: str | Node,
    ts_lo=None,
    ts_hi=None,
) -> DataFrame:
    """Every matching doc with its BM25 score — (docint, score), no
    top-k, no pagination, no metadata join.

    The building block for result shapes that rank something other than
    individual docs (field collapsing, per-group top-k, aggregations over
    the scored answer set). Same semantics as :func:`search`'s bm25
    strategy before the heap: tombstones masked, time-range mask applied,
    matched docs with no positive term score 0.0 (FullText.java:139)."""
    node = parse_query(query, index.analyzer) if isinstance(query, str) else query
    from miru_spark.query.filters import expand_multiterm

    return _scored(index, expand_multiterm(index, node), ts_lo, ts_hi)[0]


def search(
    index: InvertedIndex,
    query: str | Node,
    k: int = 10,
    ts_lo=None,
    ts_hi=None,
    strategy: str = "bm25",
    after: float | None = None,
    exclude=None,
    synonyms: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Top-k search. Returns (conv_id, turn_idx, docint, score) ordered by
    (score desc, docint desc) [bm25] or (docint desc) [time].

    The bm25 strategy is :func:`scored_matches` followed by the keyset
    page predicate and the top-k heap; the time strategy (and a query
    with no positive text term) returns the newest k matches.

    ``synonyms`` (term → alternatives) OR-expands positive text terms
    before planning (Lucene query-time SynonymGraph as BooleanQuery
    rewrite — see ``ast.expand_synonyms``); an expanded single-term
    query stays on the fused single-scan plan (Or of Terms is fusable).

    ``ts_lo``/``ts_hi`` apply the reference's time-range mask
    (``MiruBitmaps.buildTimeRangeMask``, miru-plugin/.../bitmap/
    MiruBitmaps.java:141) — here a plain ``ts BETWEEN`` predicate that
    parquet/Iceberg min-max stats turn into partition pruning.

    ``after``/``exclude`` resume the top-k past a previous page: pass the
    previous page's lowest score and its docints and the next k rows of
    the same (score desc, docint desc) order come back — the reference's
    ``FullTextReport.lowestScore`` carry-over floor (``FullText.java:134``)
    as keyset pagination (see ``_page_pred``). For time strategy the
    cursor is just ``exclude`` + the docint order.
    """
    node = parse_query(query, index.analyzer) if isinstance(query, str) else query
    if synonyms:
        from miru_spark.query.ast import expand_synonyms

        node = expand_synonyms(node, synonyms)
    # MultiTermQuery → TermInSet rewrite: wildcard/fuzzy leaves expand
    # against the term dictionary so the postings access stays an
    # equality-set probe (prunable, fusable) — see filters.expand_multiterm
    from miru_spark.query.filters import expand_multiterm

    node = expand_multiterm(index, node)

    if strategy == "bm25":
        scored, ranked = _scored(index, node, ts_lo, ts_hi)
        if ranked:
            return _top_k(index, scored, k, _page_pred(after, exclude))
    else:
        scored = _matched(index, node, ts_lo, ts_hi).select(
            "docint", F.lit(0.0).alias("score")
        )
    # newest-k (FullText.collectTime) / pure-metadata queries: score 0
    if exclude:
        scored = scored.where(~F.col("docint").isin([int(d) for d in exclude]))
    return _with_meta(index, scored.orderBy(F.desc("docint")).limit(k))


def msm_clauses(node) -> list[list]:
    """Top-level SHOULD clause list for ``minimum_should_match``, or
    ``[]`` if the (already multiterm-expanded) tree is not an OR/AND of
    text clauses. A clause that the multi-term rewrite (wildcard/fuzzy)
    or a synonym expansion turned into an OR-of-terms group is still
    ONE clause, present when ANY member term is — Lucene BooleanQuery
    counts the clause, not its rewritten terms. Shared by the
    single-query path (:func:`search_min_should_match`) and the batched
    scan (``batch.search_batch``) so both count identically."""
    from miru_spark.query.ast import And as _And
    from miru_spark.query.ast import Or as _Or

    def _is_leaf(x) -> bool:
        return isinstance(x, (Term, Prefix)) and x.field == "text"

    def _collect(children) -> list[list]:
        out: list[list] = []
        for c in children:
            if _is_leaf(c):
                out.append([c])
            elif isinstance(c, _Or):
                members = _flat_children(c, _Or)
                if not all(_is_leaf(x) for x in members):
                    return []
                out.append(members)
            else:
                return []
        return out

    if _is_leaf(node):
        return [[node]]
    if isinstance(node, _Or):
        return _collect(node.children)
    if isinstance(node, _And):
        # an implicit-AND query string ("spark join merge" under the
        # default-AND parser) is the natural way to hand this API its
        # clause list — calling min_should_match(m) DECLARES the
        # clauses SHOULD (Lucene msm only applies to SHOULD clauses;
        # the caller's m-of-n intent overrides the parser's default
        # operator), so top-level AND children count exactly like OR
        # children
        return _collect(_flat_children(node, _And))
    return []


def search_min_should_match(
    index: InvertedIndex,
    query: str | Node,
    m: int,
    k: int = 10,
) -> DataFrame:
    """Top-k with Lucene/ES ``minimum_should_match`` semantics: an OR
    query matches only docs containing at least ``m`` of its n leaves
    (Lucene BooleanQuery.setMinimumNumberShouldMatch — between the
    engine's AND (m = n) and OR (m = 1) extremes). All matched leaves
    contribute to the score, exactly like the plain OR path.

    Same fused single-scan plan as :func:`search`: the postings scan
    survives only query terms, ONE groupBy(docint) computes score +
    per-CLAUSE presence, the m-of-n check is a post-aggregation filter,
    TakeOrderedAndProject takes the k.

    ``n`` counts TOP-LEVEL SHOULD clauses, exactly as Lucene does: a
    clause that the multi-term rewrite (wildcard/fuzzy) or a synonym
    expansion turned into an OR-of-terms group is still ONE clause,
    present when ANY member term is (BooleanQuery counts the clause,
    not its rewritten terms).
    """
    from miru_spark.query.filters import expand_multiterm

    node = expand_multiterm(
        index, parse_query(query, index.analyzer) if isinstance(query, str) else query
    )
    clauses = msm_clauses(node)
    if not clauses:
        raise ValueError("min_should_match needs an OR/AND of text clauses")
    leaves = [l for cl in clauses for l in cl]
    pred = _scan_pred(leaves)
    hits = _weighted(index, leaves, pred)

    def _leaf_term_pred(l):
        if isinstance(l, Term):
            return F.col("term") == F.lit(l.value)
        return F.col("term").startswith(l.value)

    aggs = [F.sum("contrib").alias("score")]
    for i, cl in enumerate(clauses):
        cp = _leaf_term_pred(cl[0])
        for l in cl[1:]:
            cp = cp | _leaf_term_pred(l)
        aggs.append(F.max(F.when(cp, 1).otherwise(0)).alias(f"_c{i}"))
    agg = hits.groupBy("docint").agg(*aggs)
    n_present = F.lit(0)
    for i in range(len(clauses)):
        n_present = n_present + F.col(f"_c{i}")
    agg = agg.where(n_present >= m)
    return _top_k(index, _live(index, agg), k)


def search_dismax(
    index: InvertedIndex,
    query: str | Node,
    tie_breaker: float = 0.0,
    k: int = 10,
) -> DataFrame:
    """Top-k under Lucene DisjunctionMaxQuery scoring: a doc's score is
    its BEST single-term contribution plus ``tie_breaker`` times the
    rest (``max + tie·(sum − max)``) — the ranking that stops multi-term
    synonym/field expansions from out-scoring a single strong match by
    sheer clause count. ``tie_breaker=1`` degenerates to the plain OR
    sum; ``0`` is pure max.

    Same fused single-scan plan as :func:`search` — the max/sum pair
    rides in the ONE groupBy(docint) aggregation. Doc-metadata
    conjuncts ('(a OR b) AND role:x') peel into the standard doc mask;
    the dismax clause set is the text subtree.
    """
    from miru_spark.query.filters import expand_multiterm

    node = expand_multiterm(
        index, parse_query(query, index.analyzer) if isinstance(query, str) else query
    )
    # doc-metadata conjuncts ('(a OR b) AND role:x') peel into the
    # standard doc mask — the dismax clause set is the text subtree
    sub, pos_meta, neg_meta = _peel_meta_conjuncts(node)
    if (pos_meta or neg_meta) and not _meta_fields_known(
        index, [*pos_meta, *neg_meta]
    ):
        sub = None
    f = _fusable(sub) if sub is not None else None
    # DisjunctionMax is inherently disjunctive: any doc matching >= 1
    # clause is a candidate. Accepting a fused AND here would silently
    # score it with OR match semantics, returning docs that do not
    # satisfy the conjunction — reject it (single leaves fuse as 'and'
    # and are fine: dismax of one clause is that clause).
    if f is None or (f[0] == "and" and len(f[1]) > 1):
        raise ValueError("dismax needs a fusable OR text query")
    mask = _doc_mask(index, None, None, pos_meta, neg_meta)
    _, leaves = f
    pred = _scan_pred(leaves)
    hits = _weighted(index, leaves, pred)
    agg = hits.groupBy("docint").agg(
        (
            F.max("contrib")
            + F.lit(float(tie_breaker)) * (F.sum("contrib") - F.max("contrib"))
        ).alias("score")
    )
    if mask is not None:
        agg = agg.join(mask, "docint", "left_semi")
    return _top_k(index, _live(index, agg), k)
