"""Posting-list construction as one declarative Spark job.

Reference pipeline (enterstudio/miru): intern → compose per-field
``(term → ids[], counts[])`` work units → parallel ``fieldIndex.set``
(``miru-service/.../stream/MiruIndexer.java:47-126``,
``MiruIndexPrimaryFields.compose:37-96``), with per-doc term frequency
kept by the cardinality sub-index (``LabFieldIndex.java:422-475``) and
the global count in the docId=-1 row (``LabFieldIndex.java:474-515``).

Spark-first re-expression — the whole build is JVM-side (tokenize =
split/filter column expressions, tf and positions = a run-length pass
over each doc's sorted token array): no Python in the hot path at all,
whole-stage codegen end to end::

    turns ── tokens_col ──► sort per doc ──► runs ──► explode
          └─ size(tokens) ─► doc_stats                  │
                                                        ▼
                              postings(term, docint, tf, positions)
                              term_stats(term, df, cf, max_docint)
                              corpus_stats(n_docs, avg_doclen)

Posting construction is shuffle-free: every occurrence of a (term,
docint) pair comes from one source row, so tf/positions are computed
per document inside one codegen projection (see :func:`postings_flat`)
and no exchange sits between the tokenizer and the posting rows.
Downstream per-term work (block building, stats) groups by term alone
and is where salting applies (see blocks.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miru_spark.docids import with_docint
from miru_spark.tokenize import tokens_col

FIELD_TEXT = "text"


def _tokens_fn(analyzer: str):
    """Column-producing token fn for an analyzer name.

    ``standard`` routes to the bare :func:`tokens_col` (identical plan
    to round 1); other names go through the per-locale registry
    (analyzers.py — the reference's ``TermAnalyzers.java:45-133``
    field-definition analyzers)."""
    if analyzer == "standard":
        return tokens_col
    from miru_spark.analyzers import analyze_col

    return lambda c: analyze_col(c, analyzer)


def base_with_docint(turns: DataFrame) -> DataFrame:
    """turns + docint — the cacheable base (no token arrays; caching 10s
    of millions of token strings through the block store costs more than
    re-running the codegen'd tokenizer per consumer)."""
    if "docint" not in turns.columns:
        turns = with_docint(turns)
    return turns


def postings_flat(
    base: DataFrame, positions: bool = True, analyzer: str = "standard"
) -> DataFrame:
    """``(term, docint, tf, doclen[, positions])`` — the flat inverted index.

    ``doclen`` is denormalized onto every posting row (one small int,
    dictionary/RLE-friendly in parquet): BM25 scoring then needs NO join
    back to the doc table, and block building needs no shuffle beyond
    its own groupBy. ``positions`` (token offsets) power phrase queries;
    skip them for a leaner index.

    SHUFFLE-FREE (round 5): the per-(term, docint) tf/positions
    aggregation is a PER-DOCUMENT computation — every occurrence of a
    (term, docint) pair comes from one source row — so the former
    ``explode → groupBy(term, docint)`` plan shuffled one row per token
    purely to reunite rows that were never apart (map-side partial agg
    already finished the combine; the exchange moved ~tokens rows and
    scaled at the sandbox's worst ceiling — generic high-cardinality
    shuffle measured 0.45-0.48 N→4N across rounds 4-5). The run-length
    plan keeps everything inside one whole-stage-codegen projection:
    sort the doc's token array, find run boundaries with a filter over
    ``sequence``, emit one struct per run, explode. Measured: −21% at
    2 cores, equal at 8 cores at 622k turns (BENCH/BASELINE.md r5) —
    and on a real cluster it removes the full postings network shuffle
    (the index build's only data-sized exchange besides the bucketed
    write itself).

    Struct-wraps chain each derived array so Catalyst materializes it
    once per stage: referencing a raw expression from several consumers
    re-evaluates it per consumer (verified in the physical plan), while
    a struct field is computed a single time.
    """
    t1 = base.select(
        "docint",
        F.struct(_tokens_fn(analyzer)(F.col("text")).alias("t")).alias("_s"),
    )
    if positions:
        # sort (term, pos) structs: runs are per-term position lists,
        # already ascending within each run
        arr = F.transform(
            F.sequence(F.lit(1), F.size("_s.t")),
            lambda i: F.struct(
                F.element_at("_s.t", i).alias("term"),
                (i - 1).alias("pos"),
            ),
        )
        t2 = t1.select(
            "docint",
            F.struct(
                F.when(F.size("_s.t") > 0, F.sort_array(arr))
                .otherwise(F.array().cast("array<struct<term:string,pos:int>>"))
                .alias("s"),
                F.size("_s.t").alias("n"),
            ).alias("_o"),
        )
        s, n = F.col("_o.s"), F.col("_o.n")
        ends = F.when(
            n > 0,
            F.filter(
                F.sequence(F.lit(1), n),
                lambda i: (i == n)
                | (
                    F.element_at(s, i)["term"]
                    != F.element_at(s, i + 1)["term"]
                ),
            ),
        ).otherwise(F.array().cast("array<int>"))
        t3 = t2.select("docint", "_o", F.struct(ends.alias("e")).alias("_e"))
        e = F.col("_e.e")
        sp = F.col("_o.s")
        entries = F.transform(
            e,
            lambda x, j: F.struct(
                F.element_at(sp, x)["term"].alias("term"),
                (
                    x
                    - F.when(j == 0, F.lit(0)).otherwise(F.element_at(e, j))
                )
                .cast("int")
                .alias("tf"),
                F.transform(
                    F.slice(
                        sp,
                        F.when(j == 0, F.lit(1)).otherwise(
                            F.element_at(e, j) + 1
                        ),
                        x
                        - F.when(j == 0, F.lit(0)).otherwise(
                            F.element_at(e, j)
                        ),
                    ),
                    lambda st: st["pos"],
                ).alias("positions"),
            ),
        )
        return t3.select(
            "docint",
            F.col("_o.n").alias("doclen"),
            F.explode(entries).alias("_p"),
        ).select(
            F.col("_p.term").alias("term"),
            "docint",
            F.col("_p.tf").alias("tf"),
            "doclen",
            F.col("_p.positions").alias("positions"),
        )
    t2 = t1.select(
        "docint",
        F.struct(
            F.sort_array("_s.t").alias("s"), F.size("_s.t").alias("n")
        ).alias("_o"),
    )
    s, n = F.col("_o.s"), F.col("_o.n")
    ends = F.when(
        n > 0,
        F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (i == n)
            | (F.element_at(s, i) != F.element_at(s, i + 1)),
        ),
    ).otherwise(F.array().cast("array<int>"))
    t3 = t2.select("docint", "_o", F.struct(ends.alias("e")).alias("_e"))
    e = F.col("_e.e")
    entries = F.transform(
        e,
        lambda x, j: F.struct(
            F.element_at(F.col("_o.s"), x).alias("term"),
            (x - F.when(j == 0, F.lit(0)).otherwise(F.element_at(e, j)))
            .cast("int")
            .alias("tf"),
        ),
    )
    return t3.select(
        "docint", F.col("_o.n").alias("doclen"), F.explode(entries).alias("_p")
    ).select(
        F.col("_p.term").alias("term"),
        "docint",
        F.col("_p.tf").alias("tf"),
        "doclen",
    )


def postings_flat_pandas(
    base: DataFrame, positions: bool = True, analyzer: str = "standard"
) -> DataFrame:
    """Arrow/pandas-UDF tokenizer emitting finished posting rows.

    Like :func:`postings_flat`, the per-doc (term → tf, positions)
    aggregation needs NO shuffle — it happens inside the UDF, so each
    input partition maps 1:1 to posting rows (the downstream
    bucket-partitioning is the only exchange). The builders route
    positions-bearing builds through this path.

    The aggregation is batch-vectorized: tokenization is the only
    per-row step (regex, C inside ``re``); grouping into (docint, term)
    postings runs over the whole Arrow batch at once — ``pd.factorize``
    codes the token stream, one stable argsort on the composite
    (row, code) key clusters each posting's occurrences with positions
    already ascending, and boundary detection yields tf/positions with
    no Python-level per-token work.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from miru_spark.analyzers import analyze_py

    want_pos = positions
    an = analyzer

    def tok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        empty_cols = {
            "term": pd.Series(dtype=object),
            "docint": pd.Series(dtype=np.int64),
            "tf": pd.Series(dtype=np.int32),
            "doclen": pd.Series(dtype=np.int32),
        }
        for pdf in batches:
            tok_lists = [
                analyze_py(t, an) if isinstance(t, str) and t else []
                for t in pdf["text"]
            ]
            lens = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
            )
            total = int(lens.sum())
            if total == 0:
                out = dict(empty_cols)
                if want_pos:
                    out["positions"] = pd.Series(dtype=object)
                yield pd.DataFrame(out)
                continue
            docints = pdf["docint"].to_numpy(np.int64)
            flat = np.empty(total, dtype=object)
            off = 0
            for ts in tok_lists:
                if ts:
                    flat[off : off + len(ts)] = ts
                    off += len(ts)
            row_idx = np.repeat(np.arange(len(tok_lists), dtype=np.int64), lens)
            offsets = np.zeros(len(tok_lists) + 1, dtype=np.int64)
            np.cumsum(lens, out=offsets[1:])
            pos = np.arange(total, dtype=np.int64) - np.repeat(offsets[:-1], lens)
            codes, uniq = pd.factorize(flat)
            uniq = np.asarray(uniq, dtype=object)
            # one posting group per distinct (row, token-code); stable
            # sort keeps in-row order, so positions come out ascending
            key = row_idx * len(uniq) + codes
            order = np.argsort(key, kind="stable")
            k_sorted = key[order]
            new_grp = np.ones(total, dtype=bool)
            new_grp[1:] = k_sorted[1:] != k_sorted[:-1]
            starts = np.nonzero(new_grp)[0]
            ends = np.concatenate((starts[1:], [total]))
            g_row = row_idx[order[starts]]
            cols = {
                "term": uniq[codes[order[starts]]],
                "docint": docints[g_row],
                "tf": (ends - starts).astype(np.int32),
                "doclen": lens[g_row].astype(np.int32),
            }
            if want_pos:
                pos_sorted = pos[order].astype(np.int32)
                cols["positions"] = np.split(pos_sorted, starts[1:])
            yield pd.DataFrame(cols)

    schema = "term string, docint long, tf int, doclen int" + (
        ", positions array<int>" if positions else ""
    )
    return base.select("docint", "text").mapInPandas(tok, schema=schema)


def doc_stats(base: DataFrame, analyzer: str = "standard") -> DataFrame:
    """Per-doc row store: docint → stored fields + doclen.

    ``text`` rides along — the reference's activity index stores field
    values for late lookup by docId (MiruActivityIndex.java:16-45;
    gatherActivityLookup), which powers snippets/highlighting here.
    ALL input metadata columns are kept (schema-driven, like the
    reference's field definitions): extensions such as ``authz`` flow
    into the row store without build changes."""
    extra = [c for c in base.columns if c != "docint"]
    return base.select(
        "docint", *extra, F.size(_tokens_fn(analyzer)(F.col("text"))).alias("doclen")
    )


def term_stats(postings: DataFrame) -> DataFrame:
    """Per-term df/cf — reference's global-cardinality row
    (``LabFieldIndex.getGlobalCardinality``, docId=-1 row).

    ``max_docint`` reproduces the lastId posting-skip
    (``FieldMultiTermTxIndex.considerIfLastIdGreaterThanN``,
    miru-plugin/.../index/FieldMultiTermTxIndex.java:14-35): incremental
    scorers can prune terms with no doc newer than a watermark.
    """
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("long").alias("cf"),
        F.max("docint").alias("max_docint"),
    )


def corpus_stats(docs: DataFrame) -> tuple[int, float]:
    """(n_docs, avg_doclen) — BM25 global inputs. One tiny agg job."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doclen").alias("avgdl")
    ).collect()[0]
    return int(row["n"]), float(row["avgdl"] or 0.0)
