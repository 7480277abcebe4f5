"""Per-layer tracing from outside the engine.

The benchmark opens a span around each call it makes into an engine
module's public function (and the engine's own calls into a few
module-level functions are wrapped in place, see :func:`install`).
While a span is open, the calling thread's ``spark.jobGroup.id`` local
property names it, so every Spark job launched inside carries the tag.
After the session stops, :func:`fold` reads Spark's own event log and
attributes each job, its tasks' metrics, and each SQL write execution
to the innermost span that launched it. Jobs launched from threads the
benchmark does not own carry no tag; they fall to the innermost span
open at their submission time.

No engine file is changed; tracing costs one local-property call per
span plus the event log itself.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"
EXEC_SUFFIX = "#exec"
WRITE_TABLES = ("postings", "docs", "terms", "blocks")
_WRITE_RE = re.compile(r"InsertIntoHadoopFsRelationCommand\s+(\S+?),")


class Tracer:
    """Span recorder. Disabled tracers cost one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._owner = threading.get_ident()
        self._sc = None
        # name -> {outcome: count}, filled by wrapped engine functions
        self.counters: dict[str, dict[str, int]] = defaultdict(
            lambda: defaultdict(int)
        )

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def _tag(self, sid: int | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(
                "spark.jobGroup.id", None if sid is None else f"{GROUP_PREFIX}{sid}"
            )

    @contextmanager
    def span(self, name: str):
        # spans live on the benchmark's own thread; calls made from
        # helper threads (the concurrent warm-up) are left untraced
        if not self.enabled or threading.get_ident() != self._owner:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "t0": time.time() * 1000.0,
            "t1": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag(sid)
        try:
            yield
        finally:
            rec["t1"] = time.time() * 1000.0
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def collect(self, name: str, df) -> list:
        """Run the action on a lazy DataFrame a layer returned."""
        with self.span(name + EXEC_SUFFIX):
            return df.collect()


def wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def inner(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return inner


def install(tracer: Tracer) -> None:
    """Wrap the module-level engine functions the engine calls itself.

    Each is patched where it is looked up at call time: names imported
    into another module are patched in that module. The oracle keeps the
    unwrapped ``parse_query``, so correctness checks never show up as
    parser time.
    """
    if not tracer.enabled:
        return
    import miru_spark.index as index_mod
    import miru_spark.indexing.blocks as blocks_mod
    import miru_spark.indexing.incremental as incr_mod
    import miru_spark.query.batch as batch_mod
    import miru_spark.query.bm25 as bm25_mod
    import miru_spark.query.filters as filters_mod
    import miru_spark.query.parser as parser_mod
    import miru_spark.query.serve as serve_mod

    parse = wrap(tracer, "query.parser.parse_query", parser_mod.parse_query)
    for mod in (bm25_mod, serve_mod, batch_mod):
        mod.parse_query = parse
    filters_mod.expand_multiterm = wrap(
        tracer, "query.filters.expand_multiterm", filters_mod.expand_multiterm
    )
    for fname in ("postings_flat", "postings_flat_pandas"):
        setattr(
            index_mod,
            fname,
            wrap(tracer, f"indexing.build.{fname}", getattr(index_mod, fname)),
        )
    incr_mod.postings_flat = wrap(
        tracer, "indexing.build.postings_flat", incr_mod.postings_flat
    )
    blocks_mod.build_blocks = wrap(
        tracer, "indexing.blocks.build_blocks", blocks_mod.build_blocks
    )

    choose = serve_mod.choose_plan

    @functools.wraps(choose)
    def choose_plan(*args, **kwargs):
        with tracer.span("query.serve.choose_plan"):
            plan = choose(*args, **kwargs)
        tracer.counters["query.serve.choose_plan"][plan] += 1
        return plan

    serve_mod.choose_plan = choose_plan


# ---------------------------------------------------------------------------
# event-log folding
# ---------------------------------------------------------------------------


def _events(log_dir: str):
    # Spark 4 writes the log as a directory of numbered ``events_<n>_*`` files
    files = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    for path in files:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


_ZERO = {
    "jobs": 0,
    "tasks": 0,
    "executor_cpu_s": 0.0,
    "shuffle_write_bytes": 0,
    "spill_bytes": 0,
    "input_records": 0,
    "output_bytes": 0,
}


def _add(acc: dict, m: dict) -> None:
    for k, v in m.items():
        acc[k] = acc.get(k, 0) + v


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """→ (jobs, sql): per-job metric totals with tag, submit time and SQL
    execution id; per-SQL-execution write target and wall time."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    sql: dict[int, dict] = {}
    for e in _events(log_dir):
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.root.id") or props.get(
                "spark.sql.execution.id"
            )
            jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id") or "",
                "submit": float(e["Submission Time"]),
                "sql": int(exec_id) if exec_id not in (None, "") else None,
                "m": dict(_ZERO, jobs=1),
            }
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif ev == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"]))
            tm = e.get("Task Metrics")
            if job is None or not tm:
                continue
            _add(
                job["m"],
                {
                    "tasks": 1,
                    "executor_cpu_s": tm["Executor CPU Time"] / 1e9,
                    "shuffle_write_bytes": tm["Shuffle Write Metrics"][
                        "Shuffle Bytes Written"
                    ],
                    "spill_bytes": tm["Memory Bytes Spilled"]
                    + tm["Disk Bytes Spilled"],
                    "input_records": tm["Input Metrics"]["Records Read"],
                    "output_bytes": tm["Output Metrics"]["Bytes Written"],
                },
            )
        elif ev.endswith("SparkListenerSQLExecutionStart"):
            m = _WRITE_RE.search(json.dumps(e.get("sparkPlanInfo", "")))
            target = None
            if m:
                leaf = m.group(1).rstrip("/").rsplit("/", 1)[-1]
                target = leaf if leaf in WRITE_TABLES else "other"
            sql[int(e["executionId"])] = {
                "t0": float(e["time"]),
                "t1": None,
                "target": target,
            }
        elif ev.endswith("SparkListenerSQLExecutionEnd"):
            rec = sql.get(int(e["executionId"]))
            if rec is not None:
                rec["t1"] = float(e["time"])
    return jobs, sql


def _innermost(spans: list[dict], t: float) -> int | None:
    best = None
    for s in spans:
        if s["t0"] <= t <= (s["t1"] or float("inf")):
            if best is None or s["t0"] >= spans[best]["t0"]:
                best = s["id"]
    return best


def _layer(name: str) -> str:
    return name[: -len(EXEC_SUFFIX)] if name.endswith(EXEC_SUFFIX) else name


def fold(tracer: Tracer, log_dir: str) -> dict[str, float]:
    """Per-layer metrics, named ``<layer>.<measure>``.

    A layer's job metrics include the jobs of the layers it calls, the
    way a caller waits for them. ``plan_s`` is the wall time of calls
    that return a lazy DataFrame, ``exec_s`` the action run on it, and
    ``wall_s`` their sum. Segment writes are split by the table the SQL
    execution writes, both per calling layer
    (``<layer>.<table>.<measure>``) and over the whole run
    (``segment_write.<table>.<measure>``).
    """
    spans = tracer.spans
    jobs, sql = read_event_log(log_dir)
    out: dict[str, float] = defaultdict(float)

    def ancestors(sid):
        seen = set()
        while sid is not None:
            name = _layer(spans[sid]["name"])
            if name not in seen:
                seen.add(name)
                yield name
            sid = spans[sid]["parent"]

    # wall time: outermost instance of each layer name only
    for s in spans:
        layer = _layer(s["name"])
        p, nested = s["parent"], False
        while p is not None:
            if _layer(spans[p]["name"]) == layer:
                nested = True
                break
            p = spans[p]["parent"]
        if nested:
            continue
        dt = (s["t1"] - s["t0"]) / 1000.0
        out[f"{layer}.wall_s"] += dt
        if s["name"].endswith(EXEC_SUFFIX):
            out[f"{layer}.exec_s"] += dt
        else:
            out[f"{layer}.plan_s"] += dt
            out[f"{layer}.calls"] += 1

    untagged = 0
    for job in jobs.values():
        g = job["group"]
        if g.startswith(GROUP_PREFIX):
            sid = int(g[len(GROUP_PREFIX):])
        else:
            untagged += 1
            sid = _innermost(spans, job["submit"])
        target = sql.get(job["sql"], {}).get("target") if job["sql"] is not None else None
        _add_prefixed(out, "spark", job["m"])
        if target in WRITE_TABLES:
            _add_prefixed(out, f"segment_write.{target}", job["m"])
        for layer in ancestors(sid):
            _add_prefixed(out, layer, job["m"])
            if target in WRITE_TABLES:
                _add_prefixed(out, f"{layer}.{target}", job["m"])
    out["trace.untagged_jobs"] = untagged

    for rec in sql.values():
        if rec["target"] not in WRITE_TABLES or rec["t1"] is None:
            continue
        dt = (rec["t1"] - rec["t0"]) / 1000.0
        out[f"segment_write.{rec['target']}.wall_s"] += dt
        for layer in ancestors(_innermost(spans, rec["t0"])):
            out[f"{layer}.{rec['target']}.wall_s"] += dt

    for name, outcomes in tracer.counters.items():
        for outcome, n in outcomes.items():
            out[f"{name}.{outcome}"] += n
        if outcomes.get("rows"):
            # rows the layer's jobs read (postings, docs, terms, blocks)
            # per row it returned: the work top-k pruning should cut
            out[f"{name}.rows_read_per_result"] = (
                out[f"{name}.input_records"] / outcomes["rows"]
            )
    return dict(out)


def _add_prefixed(out: dict, prefix: str, m: dict) -> None:
    for k, v in m.items():
        out[f"{prefix}.{k}"] += v
