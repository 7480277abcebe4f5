"""The benchmark's workloads: inputs, set-up, timed phases and checks.

Every input is a function of the seed: the corpus comes from
``generate_transcripts(seed=...)`` and the query stream from a NumPy
generator seeded with the same value. The generator draws tokens from a
Zipf law over ``w00000``..``w09999`` in rank order, so a term's vocabulary
index is its popularity rank. Conversation lengths vary with the seed, so
each input is cut to a fixed number of turns: a run's work then does not
depend on which seed it drew.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from perfbench.check import matches_oracle, same_answer

K = 10

# serve_mixed: one persisted index, one seeded query stream
SERVE_TURNS = 1200
SERVE_BUCKETS = 4  # term buckets sized to the corpus; 32 would write ~64 dirs
HEAD_RANKS = (0, 12)  # posting lists of thousands of rows
TAIL_RANKS = (300, 1500)  # posting lists of about 4 to 20 rows
# (class, popularity) in stream order: one query per class, and the
# popularity alternates so head- and tail-term costs both show (a flat
# AND on head terms and a block-max AND on tail terms, and so on).
STREAM = (
    ("and", "head"),
    ("or", "tail"),
    ("not", "head"),
    ("prefix", "tail"),
    ("wildcard", "head"),
    ("field", "tail"),
    ("time", "head"),
    ("phrase", "tail"),
    ("blockmax_and", "tail"),
    ("wand_or", "head"),
)
SINGLE_SHARE = 0.6  # of --seconds; the batched phase gets the rest

# ingest_append: a segment store fed in time order
INGEST_BASE_TURNS = 1200
INGEST_APPEND_TURNS = 250
INGEST_SHARDS = 1
MIN_APPENDS = 1
READS_PER_APPEND = 2  # fresh reads of each appended state; the median counts


# ---------------------------------------------------------------------------
# timing
# ---------------------------------------------------------------------------


def _cpu_jiffies() -> tuple[int, int]:
    """(all, stolen) CPU jiffies of this machine, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


class Stopwatch:
    """Wall time of one operation, and the same net of hypervisor steal.

    On a shared host the hypervisor runs other guests on this machine's
    CPUs for a share of the time that changes from minute to minute; no
    change to the program can win that time back. ``net_s`` removes the
    stolen share over the operation: ``wall * (1 - stolen / all)``."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.j0 = _cpu_jiffies()
        self.wall_s = self.net_s = 0.0

    def stop(self) -> "Stopwatch":
        self.wall_s = time.perf_counter() - self.t0
        j1 = _cpu_jiffies()
        total, stolen = j1[0] - self.j0[0], j1[1] - self.j0[1]
        self.net_s = self.wall_s * (1.0 - stolen / total) if total > 0 else self.wall_s
        return self


@dataclass
class Result:
    """What one workload run measured and checked."""

    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    samples: dict[str, int] = field(default_factory=dict)
    detail: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0


def _p50(xs: list[float]) -> float:
    return statistics.median(xs)


def _dir_bytes(path: str, seen: set[str] | None = None) -> int:
    """Bytes of the data files under ``path`` (hidden checksum files
    excluded). With ``seen``, only files not in it are counted, and they
    are added to it."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.startswith("."):
                continue
            p = os.path.join(root, name)
            if seen is not None:
                if p in seen:
                    continue
                seen.add(p)
            total += os.path.getsize(p)
    return total


def _text_bytes(pdf) -> int:
    return int(pdf["text"].map(lambda s: len(s.encode("utf-8"))).sum())


def _corpus(spark, seed: int, sizes: list[int]):
    """The seeded corpus cut into consecutive batches of whole
    conversations, batch ``i`` the shortest run reaching ``sizes[i]``
    turns. → (persisted turns, [(first conv_id, end conv_id, turns)])."""
    from miru_spark.transcripts import generate_transcripts

    # conversations average 12.5 turns: 1.5x the turns asked for, which
    # falls short with a chance far below one in a million
    n_convs = sum(sizes) * 3 // 25
    turns = generate_transcripts(spark, n_convs=n_convs, seed=seed).persist()
    counts = sorted(
        (r["conv_id"], r["count"]) for r in turns.groupBy("conv_id").count().collect()
    )
    batches, i = [], 0
    for size in sizes:
        lo, got = i, 0
        while got < size:
            got += counts[i][1]
            i += 1
        end = counts[i][0] if i < len(counts) else "~"
        batches.append((counts[lo][0], end, got))
    return turns, batches


def _between(turns, lo: str, hi: str):
    return turns.where((F.col("conv_id") >= lo) & (F.col("conv_id") < hi))


# ---------------------------------------------------------------------------
# serve_mixed
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Query:
    cls: str
    pop: str
    arg: str  # what the single-query call takes (phrase: the bare words)
    query: str  # the same query as a query string (search_batch, oracle)
    strategy: str = "bm25"

    @property
    def label(self) -> str:
        return f"{self.cls}.{self.pop}"


def _term(i: int) -> str:
    return f"w{i:05d}"


def query_stream(seed: int) -> list[Query]:
    """One cycle of the mixed stream: every (class, popularity) once."""
    rng = np.random.default_rng(seed)

    def head2() -> tuple[str, str]:
        a, b = rng.choice(np.arange(*HEAD_RANKS), size=2, replace=False)
        return _term(int(a)), _term(int(b))

    def tail() -> int:
        return int(rng.integers(*TAIL_RANKS))

    out = []
    for cls, pop in STREAM:
        h1, h2 = head2()
        t1, t2 = _term(tail()), _term(tail())
        a, b = (h1, h2) if pop == "head" else (t1, t2)
        strategy = "bm25"
        if cls in ("and", "blockmax_and"):
            q = f"{a} AND {h2 if pop == 'tail' else b}"
        elif cls in ("or", "wand_or"):
            q = f"{a} OR {b}"
        elif cls == "not":
            q = f"{a} AND NOT {b}"
        elif cls == "prefix":
            r = tail() if pop == "tail" else int(rng.integers(10, 100))
            q = f"w{r // 10:04d}*"
        elif cls == "wildcard":
            d = int(rng.integers(0, 10))
            q = f"w000?{d}" if pop == "head" else f"w0{tail() // 100:02d}?{d}"
        elif cls == "field":
            q = f"role:assistant AND {a}"
        elif cls == "time":
            q, strategy = a, "time"
        elif cls == "phrase":
            q = f"{a} {h2}"
        else:
            raise ValueError(cls)
        out.append(Query(cls, pop, q, f'"{q}"' if cls == "phrase" else q, strategy))
    return out


def _run_single(tr, idx, q: Query) -> list:
    from miru_spark.query.bm25 import search
    from miru_spark.query.phrase import search_phrase
    from miru_spark.query.serve import search_auto

    if q.cls == "phrase":
        name = "query.phrase.search_phrase"
        df = tr.call(name, search_phrase, idx, q.arg, k=K)
    elif q.cls == "blockmax_and":
        name = "query.serve.search_auto"
        df = tr.call(name, search_auto, idx, q.arg, k=K, and_min_postings=0)
    elif q.cls == "wand_or":
        name = "query.serve.search_auto"
        df = tr.call(name, search_auto, idx, q.arg, k=K, or_wand_min_postings=0)
    else:
        name = "query.bm25.search"
        df = tr.call(name, search, idx, q.arg, k=K, strategy=q.strategy)
    rows = tr.collect(name, df)
    tr.counters[name]["rows"] += len(rows)
    return rows


def _run_batch(tr, idx, stream: list[Query]) -> list[list]:
    from miru_spark.query.batch import search_batch

    name = "query.batch.search_batch"
    items = [(f"q{i}", q.query, K) for i, q in enumerate(stream)]
    rows = tr.collect(name, tr.call(name, search_batch, idx, items))
    tr.counters[name]["rows"] += len(rows)
    by_q: dict[str, list] = {qid: [] for qid, _, _ in items}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        by_q[r["query_id"]].append(r)
    return [by_q[qid] for qid, _, _ in items]


def serve_mixed(spark, tr, seed: int, seconds: float, work_dir: str, setup: Stopwatch) -> Result:
    from miru_spark.index import InvertedIndex
    from miru_spark.oracle import PandasIndex

    res = Result()
    with tr.span("setup.input"):
        generated, [(_, end, n_turns)] = _corpus(spark, seed, [SERVE_TURNS])
        turns = _between(generated, "", end)
    idx_dir = os.path.join(work_dir, "index")
    sw = Stopwatch()
    idx = tr.call(
        "index.build_persisted",
        InvertedIndex.build_persisted,
        turns,
        idx_dir,
        positions=True,
        blocks=True,
        n_buckets=SERVE_BUCKETS,
    )
    build = sw.stop()
    stream = query_stream(seed)
    # warm-up: the first query of a process pays for class loading and
    # code generation that every later one reuses; one untimed query takes
    # that out of the timed window (a full untimed pass of the mix would
    # not fit the run's time budget)
    with tr.span("setup.warmup"):
        _run_single(tr, idx, stream[0])
    setup.stop()

    # single phase: one client, closed loop, whole cycles
    lat: dict[str, list[float]] = {}
    single: list[list | None] = [None] * len(stream)
    all_lat: list[Stopwatch] = []
    timed = Stopwatch()
    phase_end = timed.t0 + SINGLE_SHARE * seconds
    with tr.span("timed.single"):
        while True:
            for i, q in enumerate(stream):
                res.attempted += 1
                sw = Stopwatch()
                try:
                    rows = _run_single(tr, idx, q)
                except Exception as e:  # noqa: BLE001 - counted, reported
                    res.failed += 1
                    print(f"perfbench: {q.label} {q.arg!r} failed: {e!r}", flush=True)
                    continue
                all_lat.append(sw.stop())
                lat.setdefault(q.label, []).append(sw.net_s)
                single[i] = single[i] or rows
            if time.perf_counter() >= phase_end:
                break

    # batched phase: the same stream, one tick per cycle
    ticks: list[Stopwatch] = []
    batched: list[list[list]] = []
    phase_end = time.perf_counter() + (1 - SINGLE_SHARE) * seconds
    with tr.span("timed.batch"):
        while True:
            res.attempted += len(stream)
            sw = Stopwatch()
            try:
                batched.append(_run_batch(tr, idx, stream))
            except Exception as e:  # noqa: BLE001 - counted, reported
                res.failed += len(stream)
                print(f"perfbench: batch tick failed: {e!r}", flush=True)
            else:
                ticks.append(sw.stop())
            if time.perf_counter() >= phase_end:
                break
    timed.stop()

    # correctness, outside the timed window
    pdf = turns.toPandas()
    oracle = PandasIndex(pdf)
    for i, q in enumerate(stream):
        if single[i] is not None and not matches_oracle(single[i], oracle, q.query, K, q.strategy):
            print(f"perfbench: {q.label} {q.arg!r} disagrees with the oracle", flush=True)
            res.failed += 1
        for tick in batched:
            # batched answers must equal the single-query ones; the time
            # strategy has no batched form, so that query is BM25 there
            if q.strategy == "bm25" and single[i] is not None:
                ok = same_answer(tick[i], single[i])
            else:
                ok = matches_oracle(tick[i], oracle, q.query, K)
            if not ok:
                print(f"perfbench: batched {q.label} {q.query!r} disagrees", flush=True)
                res.failed += 1
    generated.unpersist()

    text_bytes = _text_bytes(pdf)
    tick_net = sum(t.net_s for t in ticks)
    res.metrics = {
        "setup_s": (setup.net_s, "s"),
        "build_turns_per_s": (n_turns / build.net_s, "turns/s"),
        "bytes_per_text_byte": (_dir_bytes(idx_dir) / text_bytes, "B/B"),
        "read_p50_s": (_p50([s.net_s for s in all_lat]), "s"),
        "throughput_per_s": (len(stream) * len(ticks) / tick_net, "1/s"),
    }
    res.samples = {
        "setup_s": 1,
        "build_turns_per_s": 1,
        "bytes_per_text_byte": 1,
        "read_p50_s": len(all_lat),
        "throughput_per_s": len(ticks),
    }
    res.detail = {
        "turns": n_turns,
        "text_bytes": text_bytes,
        "setup_wall_s": setup.wall_s,
        "build_wall_s": build.wall_s,
        "read_p50_wall_s": _p50([s.wall_s for s in all_lat]),
        "batch_tick_wall_s": _p50([t.wall_s for t in ticks]),
        "batch_tick_queries": len(stream),
        "timed_wall_s": timed.wall_s,
        "timed_steal_share": 1 - timed.net_s / timed.wall_s,
        **{f"query_class.{k}.p50_s": _p50(v) for k, v in lat.items()},
    }
    return res


# ---------------------------------------------------------------------------
# ingest_append
# ---------------------------------------------------------------------------


def ingest_append(spark, tr, seed: int, seconds: float, work_dir: str, setup: Stopwatch) -> Result:
    from miru_spark.indexing.incremental import SegmentStore
    from miru_spark.oracle import PandasIndex
    from miru_spark.query.bm25 import search

    res = Result()
    fixed = next(q for q in query_stream(seed) if q.label == "and.head").query
    store_dir = os.path.join(work_dir, "store")
    store = SegmentStore(spark, store_dir, n_shards=INGEST_SHARDS)
    written: set[str] = set()
    # fresh reads: (conv_id bound of the data, answer, stopwatch, live units)
    reads: list[tuple[str, list, Stopwatch, int]] = []

    def read(bound: str) -> None:
        sw = Stopwatch()
        idx = tr.call("indexing.incremental.SegmentStore.load", store.load)
        name = "query.bm25.search"
        rows = tr.collect(name, tr.call(name, search, idx, fixed, k=K))
        sw.stop()
        tr.counters[name]["rows"] += len(rows)
        reads.append((bound, rows, sw, len(store.live_units())))

    # enough appends for the longest timed window this run can take
    max_appends = max(MIN_APPENDS, 1 + int(seconds // 5))
    with tr.span("setup.input"):
        turns, batches = _corpus(
            spark, seed, [INGEST_BASE_TURNS] + [INGEST_APPEND_TURNS] * max_appends
        )
    (_, ingested, n_base), appends_in = batches[0], batches[1:]
    sw = Stopwatch()
    tr.call(
        "indexing.incremental.SegmentStore.build",
        store.build,
        _between(turns, "", ingested),
        max_concurrent=INGEST_SHARDS,
    )
    build = sw.stop()
    base_bytes = _dir_bytes(store_dir, written)
    with tr.span("setup.warmup"):
        read(ingested)
    reads.clear()
    setup.stop()

    # appends in time order, each read back at once, then one compaction
    # and one more read
    appends: list[Stopwatch] = []
    append_turns = 0
    timed = Stopwatch()
    with tr.span("timed.ingest"):
        for lo, end, n_new in appends_in:
            if len(appends) >= MIN_APPENDS and time.perf_counter() >= timed.t0 + seconds:
                break
            res.attempted += 1 + READS_PER_APPEND
            sw = Stopwatch()
            tr.call(
                "indexing.incremental.SegmentStore.append",
                store.append,
                _between(turns, lo, end),
            )
            appends.append(sw.stop())
            append_turns += n_new
            ingested = end
            for _ in range(READS_PER_APPEND):
                read(ingested)
        res.attempted += 2
        sw = Stopwatch()
        merges = tr.call(
            "indexing.incremental.SegmentStore.compact",
            store.compact,
            merge_factor=2,
            max_concurrent=INGEST_SHARDS,
        )
        compact = sw.stop()
        units_before = reads[-1][3]
        read(ingested)
    timed.stop()
    tr.counters["indexing.incremental.SegmentStore.compact"]["merges"] += merges
    # read amplification: units a fresh read unions just before compaction
    tr.counters["indexing.incremental.SegmentStore.load"]["live_units"] = units_before
    write_bytes = base_bytes + _dir_bytes(store_dir, written)

    # correctness over the union of ingested turns, outside the timing
    full = _between(turns, "", ingested).toPandas()
    for bound, rows, _, _ in reads:
        oracle = PandasIndex(full[full["conv_id"] < bound])
        if not matches_oracle(rows, oracle, fixed, K):
            print(f"perfbench: read of data before {bound} disagrees", flush=True)
            res.failed += 1
    if merges < 1:
        print("perfbench: compaction merged nothing", flush=True)
        res.failed += 1
    turns.unpersist()

    fresh = [r[2] for r in reads[:-1]]  # after appends; compaction apart
    res.metrics = {
        "setup_s": (setup.net_s, "s"),
        "build_turns_per_s": (n_base / build.net_s, "turns/s"),
        "bytes_per_text_byte": (write_bytes / _text_bytes(full), "B/B"),
        "read_p50_s": (_p50([s.net_s for s in fresh]), "s"),
        "throughput_per_s": (
            append_turns / (sum(a.net_s for a in appends) + compact.net_s),
            "1/s",
        ),
    }
    res.samples = {
        "setup_s": 1,
        "build_turns_per_s": 1,
        "bytes_per_text_byte": 1,
        "read_p50_s": len(fresh),
        "throughput_per_s": len(appends),
    }
    res.detail = {
        "turns": len(full),
        "base_turns": n_base,
        "append_turns": append_turns,
        "setup_wall_s": setup.wall_s,
        "build_wall_s": build.wall_s,
        "append_p50_s": _p50([a.net_s for a in appends]),
        "append_p50_wall_s": _p50([a.wall_s for a in appends]),
        "read_p50_wall_s": _p50([s.wall_s for s in fresh]),
        "compact_s": compact.net_s,
        "compact_merges": merges,
        "read_after_compact_s": reads[-1][2].net_s,
        "live_units_before_compact": units_before,
        "live_units_after_compact": reads[-1][3],
        "timed_wall_s": timed.wall_s,
        "timed_steal_share": 1 - timed.net_s / timed.wall_s,
    }
    return res


WORKLOADS = {"serve_mixed": serve_mixed, "ingest_append": ingest_append}
