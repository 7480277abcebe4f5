"""InvertedIndex — the engine's per-corpus index handle.

Bundles the four tables a query needs (reference analogs in parens,
enterstudio/miru):

- ``postings`` (field index: (field,term) → bitmap + cardinalities,
  ``miru-plugin/.../index/MiruFieldIndex.java:12-43``)
- ``docs`` (activity row store: docId → stored values + time,
  ``MiruActivityIndex.java:16-45``)
- ``terms`` (global cardinality / df row,
  ``LabFieldIndex.java:474-515``)
- corpus scalars (n_docs, avg_doclen) for BM25.

``build`` is the batch indexer (``MiruIndexer.index``,
``MiruIndexer.java:47-126``); ``save``/``load`` persist term-partitioned
parquet segments (Iceberg-ready layout — the local image has no Iceberg
jars, so the writer targets plain parquet with the same partitioning;
swap ``format("iceberg")`` in on a real cluster).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from miru_spark.indexing.build import (
    base_with_docint,
    corpus_stats,
    doc_stats,
    postings_flat,
    postings_flat_pandas,
    term_stats,
)


def _bucketed_for_write(postings: DataFrame, n_buckets: int) -> DataFrame:
    """Bucket postings by term hash and shape the write shuffle.

    Repartitioning by ``bucket`` alone caps the segment write at
    ``n_buckets`` tasks (and 32 keys hashed into 32 partitions leave
    ~1/3 empty by collision) — a parallelism ceiling that becomes THE
    build bottleneck at 10^12 turns. Salting the exchange with the
    docint span (``docint >> 20``, same granularity as the block
    builder's heavy-term salt) fans each bucket out across
    one-million-doc ranges: a 10^9-doc corpus writes ~1000 tasks per
    bucket, while any corpus under 2^20 docs has a single span and
    keeps today's exact layout. Files stay (term, docint)-sorted within
    themselves, so row-group min/max pruning on ``term`` is unchanged;
    readers never assumed one file per bucket (parquet dirs merge).

    The ``bucket`` SORT PREFIX is load-bearing, not stylistic: the
    dynamic-partition writer requires ordering by the partition column,
    and a sort that does NOT lead with it gets a writer-inserted bucket
    sort appended — whereupon Catalyst's ``EliminateSorts`` removes the
    explicit (term, docint) sort as redundant and the files land
    UNSORTED (this silently happened in round 2; round-4 A/B + file
    audit in BENCH/BASELINE.md). Unsorted files void the term
    row-group pruning the whole serving path relies on;
    ``tests/test_edge_cases.py::test_persisted_postings_files_sorted``
    guards the layout.

    The exchange's partition COUNT is floored at ``4 * n_buckets``:
    when the distinct-key count (buckets × spans) is near the partition
    count, hashing goes multinomial — measured on this harness,
    ``hash(bucket, span=0)`` packed 9 of 32 keys into one of 8
    partitions and the straggler cost 1.7× build wall time. With ≥4
    partitions per key, each task holds ≤2-3 keys and dynamic task
    scheduling levels the cores; non-empty partitions ≈ distinct keys,
    so the small-corpus file layout (one file per bucket) is unchanged.
    At production shuffle.partitions (≫128) the floor is a no-op.
    """
    from pyspark.sql import functions as F

    from miru_spark.indexing.blocks import SPAN_BITS

    spark = postings.sparkSession
    n_part = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 4 * n_buckets)
    return (
        postings.withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        )
        .withColumn("_span", F.shiftright(F.col("docint"), SPAN_BITS))
        .repartition(n_part, "bucket", "_span")
        .drop("_span")
        .sortWithinPartitions("bucket", "term", "docint")
    )


@dataclass
class InvertedIndex:
    postings: DataFrame  # term, docint, tf [, positions]
    docs: DataFrame  # docint, conv_id, turn_idx, role, tool, ts, doclen
    terms: DataFrame  # term, df, cf, max_docint
    n_docs: int
    avg_doclen: float
    _docs_cached: DataFrame | None = None
    blocks: DataFrame | None = None  # compressed block segments (blocks.py)
    # soft-deleted docints, masked out of every answer (the reference's
    # removal index, MiruRemovalIndex / MiruAggregateUtil.java:1140)
    tombstones: DataFrame | None = None
    #: analyzer the postings were built with — query strings parse
    #: through the same analyzer (parse_query(q, analyzer=...))
    analyzer: str = "standard"

    def with_tombstones(self, tombstones: DataFrame) -> "InvertedIndex":
        """Same index with a removal mask (docint column) applied to
        every query. Non-destructive."""
        import dataclasses

        return dataclasses.replace(self, tombstones=tombstones)

    @classmethod
    def build(
        cls,
        turns: DataFrame,
        positions: bool = True,
        cache: bool = True,
        analyzer: str = "standard",
    ) -> "InvertedIndex":
        """Build in-memory handle.

        Caches only the docs table (small: one row per turn, tokens
        included). The postings relation is left lazy — re-running the
        shuffle-free per-doc tokenize pass over the cached docs is
        cheaper than caching 13M+ posting rows through Spark's
        row-based block store; at real scale postings are persisted
        columnar via :meth:`save` instead.

        With ``positions`` the Arrow-batched pandas tokenizer emits
        finished posting rows (same rule as :meth:`build_persisted`);
        without, the JVM run-length pass (``postings_flat``) does. Both
        compute tf/positions per document, with no exchange.
        """
        base = base_with_docint(turns)
        if cache:
            base = base.cache()
        doc_tbl = doc_stats(base, analyzer=analyzer)
        post = (
            postings_flat_pandas(base, positions=True, analyzer=analyzer)
            if positions
            else postings_flat(base, positions=False, analyzer=analyzer)
        )
        n, avgdl = corpus_stats(doc_tbl)
        terms = term_stats(post)
        return cls(
            post, doc_tbl, terms, n, avgdl,
            _docs_cached=base if cache else None, analyzer=analyzer,
        )

    def save(
        self, path: str, n_buckets: int = 32, table_format: str = "auto"
    ) -> None:
        """Persist as a segment directory.

        Postings are bucketed by term hash (``pmod(xxhash64(term), B)``)
        and sorted by (term, docint) within files — the moral equivalent
        of the reference's term-keyed LSM layout
        (``LabInvertedIndex.java:268-292``): a query for a term set
        touches only the buckets those terms hash to, and parquet/
        Iceberg row-group min/max stats on ``term`` prune within
        buckets. ``table_format``: "auto" (Iceberg when the jars +
        catalog are configured, else parquet), or an explicit format —
        see :mod:`miru_spark.io`.
        """
        from pyspark.sql import functions as F

        from miru_spark.io import read_table, resolve_format, write_table

        spark = self.postings.sparkSession
        fmt = resolve_format(spark, table_format)
        write_table(
            _bucketed_for_write(self.postings, n_buckets),
            f"{path}/postings",
            partition_by=["bucket"],
            fmt=fmt,
        )
        write_table(self.docs, f"{path}/docs", fmt=fmt)
        # derive term stats from the segments just written: a columnar
        # (term, docint, tf) read beats re-running tokenize+explode
        written = read_table(spark, f"{path}/postings", fmt=fmt).select(
            "term", "docint", "tf"
        )
        write_table(term_stats(written), f"{path}/terms", fmt=fmt)
        meta = {
            "n_docs": self.n_docs,
            "avg_doclen": self.avg_doclen,
            "format": fmt,
            "analyzer": self.analyzer,
        }
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(meta, f)

    @classmethod
    def build_persisted(
        cls,
        turns: DataFrame,
        path: str,
        positions: bool = False,
        n_buckets: int = 32,
        tokenizer: str = "auto",
        blocks: bool = False,
        table_format: str = "auto",
        analyzer: str = "standard",
    ) -> "InvertedIndex":
        """The production build job: transcripts → persisted segments.

        Tokenization runs exactly ONCE (inside the postings job); the
        doc row-store derives ``doclen = sum(tf)`` from the written
        segments instead of re-tokenizing, and term stats aggregate the
        same columnar read. Three jobs total::

            1. postings:  tokenize → per-doc tf/positions (run-length
                          pass, or the pandas UDF with positions; no
                          exchange) → bucket-partition by hash(term)
                          → sorted write
            2. docs:      base ⨝ (postings ⟶ groupBy(docint).sum(tf))
            3. terms:     postings ⟶ groupBy(term) stats

        Reference analog: MiruIndexer.index composes primary work once
        and feeds field index + activity row store from it
        (miru-service/.../stream/MiruIndexer.java:47-126).
        """
        from pyspark.sql import functions as F

        from miru_spark.io import read_table, resolve_format, write_table

        spark = turns.sparkSession
        fmt = resolve_format(spark, table_format)
        base = base_with_docint(turns)
        if tokenizer == "auto":
            tokenizer = "pandas" if positions else "jvm"
        flat = (
            postings_flat_pandas(base, positions=positions, analyzer=analyzer)
            if tokenizer == "pandas"
            else postings_flat(base, positions=positions, analyzer=analyzer)
        )
        write_table(
            _bucketed_for_write(flat, n_buckets),
            f"{path}/postings",
            partition_by=["bucket"],
            fmt=fmt,
        )
        written = read_table(spark, f"{path}/postings", fmt=fmt).select(
            "term", "docint", "tf"
        )
        doclens = written.groupBy("docint").agg(
            F.sum("tf").cast("int").alias("doclen")
        )
        write_table(
            base  # all metadata columns flow into the row store
            .join(doclens, "docint", "left")
            .withColumn("doclen", F.coalesce(F.col("doclen"), F.lit(0))),
            f"{path}/docs",
            fmt=fmt,
        )
        write_table(term_stats(written), f"{path}/terms", fmt=fmt)
        docs = read_table(spark, f"{path}/docs", fmt=fmt)
        row = docs.agg(
            F.count(F.lit(1)).alias("n"), F.avg("doclen").alias("avgdl")
        ).collect()[0]
        meta = {
            "n_docs": int(row["n"]),
            "avg_doclen": float(row["avgdl"] or 0.0),
            "format": fmt,
            "analyzer": analyzer,
        }
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(meta, f)
        if blocks:
            from miru_spark.indexing.blocks import build_blocks

            flat_full = read_table(spark, f"{path}/postings", fmt=fmt).select(
                "term", "docint", "tf", "doclen"
            )
            write_table(
                build_blocks(flat_full, meta["avg_doclen"]).withColumn(
                    "bucket",
                    F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"),
                ),
                f"{path}/blocks",
                partition_by=["bucket"],
                fmt=fmt,
            )
        return cls.load(spark, path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "InvertedIndex":
        from miru_spark.io import read_table

        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        fmt = meta.get("format", "parquet")
        blocks = None
        if fmt == "iceberg" or os.path.isdir(os.path.join(path, "blocks")):
            try:
                blocks = read_table(spark, f"{path}/blocks", fmt=fmt).drop(
                    "bucket"
                )
            except Exception:
                blocks = None
        return cls(
            read_table(spark, f"{path}/postings", fmt=fmt).drop("bucket"),
            read_table(spark, f"{path}/docs", fmt=fmt),
            read_table(spark, f"{path}/terms", fmt=fmt),
            int(meta["n_docs"]),
            float(meta["avg_doclen"]),
            blocks=blocks,
            analyzer=meta.get("analyzer", "standard"),
        )

    def register_views(self, prefix: str = "miru") -> list[str]:
        """Expose the index as temp views for the SQL API: users can
        `spark.sql` over `<prefix>_postings`, `<prefix>_docs`,
        `<prefix>_terms` (+ `<prefix>_blocks` when built) — Catalyst
        produces the same plans either way."""
        names = []
        for name, df in [
            ("postings", self.postings),
            ("docs", self.docs),
            ("terms", self.terms),
            ("blocks", self.blocks),
        ]:
            if df is None:
                continue
            vname = f"{prefix}_{name}"
            df.createOrReplaceTempView(vname)
            names.append(vname)
        return names

    def unpersist(self) -> None:
        for df in (self.postings, self.docs, self.terms, self._docs_cached):
            if df is None:
                continue
            try:
                df.unpersist()
            except Exception:
                pass
