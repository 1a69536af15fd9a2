"""Traced runs: spans around the calls into each layer, recorded from the
benchmark's side only, plus the plan metrics Spark keeps per SQL
execution.

A span has a name (``<layer>.<call>``, the layer being the engine module),
start, end, parent and trace id (the micro-batch, epoch or pass it belongs
to). While a span is open its thread's job description is
``cdcbench#<span id>``, so every SQL execution it starts can be tied back
to it through the SQL status store, which Spark keeps with the UI off.
A layer's self time is its span's duration minus the union of its
children's intervals. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import os
import re
import threading
import time
from dataclasses import dataclass, field
from statistics import median

DESC = "cdcbench#"
QUERY_NAME = "cdc_sync"  # start_cdc_sync's queryName
# plan-node patterns: the envelope parse (from_json and the projection of
# its fields) and the fold's input stage (normalize + per-key sort; the
# sort-based max_by aggregate itself runs outside codegen)
PARSE = r"from_json|_env#"
FOLD_INPUT = r"\[ID\] AS id#"


@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    trace: object
    start: float
    end: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Execution:
    """One SQL execution as the status store recorded it."""

    eid: int
    description: str
    start: float
    end: float
    nodes: list[tuple[str, str, dict[str, float]]]  # (name, desc, metrics)
    clusters: list[tuple[float, list[int]]]  # (codegen duration s, node indexes)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def span_id(self) -> int | None:
        if self.description.startswith(DESC):
            return int(self.description[len(DESC):])
        return None

    def node_sum(self, metric: str, name=None, desc=None) -> float:
        return sum(
            m.get(metric, 0.0) for n, d, m in self.nodes
            if (name is None or re.search(name, n)) and (desc is None or re.search(desc, d))
        )



    def _matching(self, pattern: str) -> list[float]:
        return [dur for dur, idx in self.clusters
                if any(re.search(pattern, f"{self.nodes[i][0]} {self.nodes[i][1]}") for i in idx)]

    def codegen_s(self, pattern: str) -> float:
        """Task time of the codegen stages holding a node whose name or
        description matches."""
        return sum(self._matching(pattern))

    def pipeline_s(self, pattern: str) -> float:
        """Task time of the longest matching codegen stage: stages chained
        in one task pipeline overlap, so their times are not added."""
        return max(self._matching(pattern), default=0.0)


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


def parse_metric(text: str) -> float:
    """A status-store metric string as a number: counts as-is, sizes in
    bytes, times in seconds. Accumulated metrics read ``total (min, med,
    max ...)\\n<total> (...)``; the total is taken."""
    line = text.strip().splitlines()[-1] if text else ""
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1.0)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._open: dict[int, Span] = {}
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0

    # -- spans --------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _adopt(self) -> Span | None:
        """Parent for a span opened on a thread with no open span: the
        engine's own pool threads work for the innermost open
        ``cdc.sync_batch`` span, if any."""
        with self._lock:
            cands = [s for s in self._open.values() if s.name == "cdc.sync_batch"]
        return max(cands, key=lambda s: s.start) if cands else None

    @contextlib.contextmanager
    def span(self, name: str, trace=None):
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._adopt()
        sp = Span(name, next(self._ids), parent.sid if parent else None,
                  trace if trace is not None else (parent.trace if parent else None),
                  0.0)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"{DESC}{sp.sid}")
        with self._lock:
            self._open[sp.sid] = sp
        stack.append(sp)
        self.overhead_s += time.perf_counter() - t_in
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t_out = time.perf_counter()
            stack.pop()
            self.sc.setJobDescription(prev)
            with self._lock:
                del self._open[sp.sid]
                self.spans.append(sp)
            self.overhead_s += time.perf_counter() - t_out

    # -- wrapping the engine's lookups --------------------------------------
    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` (a module or class attribute the engine
        resolves at call time) with a version that records a span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            trace = kwargs.get("epoch_id")
            with tracer.span(name, trace) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, out)
                return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def install(self, workload: str) -> None:
        if workload != "cdc_drain":
            return  # the other workloads open their spans around each call
        from kafkatosparktokudu_spark import cdc
        from kafkatosparktokudu_spark.streaming import pipeline

        def _buckets(sp, args, out):  # affected_buckets(norm, catalog, n_buckets)
            sp.info["frac"] = sum(len(v) for v in out.values()) / (len(out) * args[2])

        self.wrap(pipeline, "sync_batch", "cdc.sync_batch")
        self.wrap(pipeline, "write_batch_log", "metrics.batch_log")
        self.wrap(cdc, "affected_buckets", "cdc.affected_buckets", _buckets)
        self.wrap(cdc, "upsert_many", "merge.upsert_many")
        self.wrap(type(self.spark.range(1)), "isEmpty", "pipeline.empty_probe")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- the status store ---------------------------------------------------
    def executions(self) -> list[Execution]:
        """Every completed SQL execution. The store records an execution's
        end a moment after the action returns, so wait (up to 30 s) until
        none is left open."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        deadline = time.time() + 30
        while time.time() < deadline and any(
            not e.completionTime().isDefined()
            for e in _jiter(store.executionsList().iterator())
        ):
            time.sleep(0.2)
        out = []
        for e in _jiter(store.executionsList().iterator()):
            if not e.completionTime().isDefined():
                continue
            eid = e.executionId()
            vals = store.executionMetrics(eid)
            raw = list(_jiter(store.planGraph(eid).allNodes().iterator()))
            nodes, clusters, index = [], [], {}
            for n in raw:
                metrics = {}
                for m in _jiter(n.metrics().iterator()):
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                index[n.id()] = len(nodes)
                nodes.append((n.name(), n.desc(), metrics))
            for n in raw:
                if n.name().startswith("WholeStageCodegen"):
                    members = [index[c.id()] for c in _jiter(n.nodes().iterator())]
                    clusters.append((nodes[index[n.id()]][2].get("duration", 0.0), members))
            out.append(Execution(
                eid, e.description() or "", e.submissionTime() / 1e3,
                e.completionTime().get().getTime() / 1e3, nodes, clusters,
            ))
        return out


def _jiter(it):
    while it.hasNext():
        yield it.next()


def _iso(ts: str) -> float:
    import datetime as dt

    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


def self_times(spans: list[Span], depth: dict[int, int], main_thread: set[int]) -> dict[int, float]:
    """Charge every instant covered by some span once, to the deepest span
    active then (a span on the blocking thread wins a tie). Without
    concurrency this is duration minus the union of the children; with
    the engine's pool threads it keeps concurrent siblings from being
    counted twice, so the self times add up to the covered wall time."""
    cuts = sorted({t for s in spans for t in (s.start, s.end)})
    out = {s.sid: 0.0 for s in spans}
    for a, b in zip(cuts, cuts[1:]):
        active = [s for s in spans if s.start <= a and s.end >= b]
        if active:
            top = max(active, key=lambda s: (depth[s.sid], s.sid in main_thread))
            out[top.sid] += b - a
    return out


def _files_under(path: str, pattern: str = "*.parquet") -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", pattern), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def cdc_layers(tracer: Tracer, ctx: dict) -> dict:
    """Per-layer metrics of a traced CDC run, over the measured batches."""
    ex = tracer.executions()
    spans = {s.sid: s for s in tracer.spans}
    depth: dict[int, int] = {}

    def _depth(s: Span) -> int:
        if s.sid not in depth:
            depth[s.sid] = 0 if s.parent is None or s.parent not in spans else 1 + _depth(spans[s.parent])
        return depth[s.sid]

    def _root(s: Span) -> Span:
        while s.parent is not None and s.parent in spans:
            s = spans[s.parent]
        return s

    for s in spans.values():
        _depth(s)
    events, measured = ctx["events"], ctx["measured"]
    rows = []
    for b in measured:
        p = events[b]
        t0 = _iso(p["timestamp"])
        t1 = t0 + p["durationMs"]["triggerExecution"] / 1e3
        roots = [s for s in spans.values() if s.parent is None
                 and s.name != "merge.lookup" and t0 - 0.05 <= s.start <= t1 + 0.05]
        root_ids = {s.sid for s in roots}
        mine = [s for s in spans.values() if _root(s).sid in root_ids]
        on_stream_thread = {s.sid for s in mine if s.name != "cdc.affected_buckets"}
        sync = next(s for s in mine if s.name == "cdc.sync_batch")
        # executions: labelled by a span of this batch, or unlabelled and
        # started in its window (the stats job on sync_batch's pool thread,
        # a named residual); the micro-batch's own container execution,
        # described by the query name, holds the others and is left out
        execs = [e for e in ex if e.span_id() in {s.sid for s in mine}
                 or (e.span_id() is None and t0 <= e.start <= t1
                     and not e.description.startswith(QUERY_NAME + "\n"))]
        stats = [e for e in execs if e.span_id() is None and "cdc.py" in e.description
                 and sync.start <= e.start <= sync.end]
        pseudo = [Span("cdc.stats", -e.eid, sync.sid, b, e.start, e.end) for e in stats]
        for ps in pseudo:
            depth[ps.sid] = depth[sync.sid] + 1
        selfs = self_times(mine + pseudo, depth, on_stream_thread)
        engine_phases = sum(v for k, v in p["durationMs"].items()
                            if k not in ("addBatch", "triggerExecution")) / 1e3
        wall = t1 - t0
        covered = sum(selfs.values()) + engine_phases
        upsert = [s for s in mine if s.name == "merge.upsert_many"]
        up_execs = [e for e in execs if e.span_id() in {s.sid for s in upsert}]
        src = r"Scan ExistingRDD|MicroBatchScan|PythonDataSource|BatchEvalPython"
        written_bytes = sum(e.node_sum("written output", name="InsertIntoHadoopFsRelation")
                            for e in up_execs)
        written_rows = sum(e.node_sum("number of output rows", name="InsertIntoHadoopFsRelation")
                           for e in up_execs)
        state_rows = sum(e.node_sum("number of output rows", name="Scan parquet") for e in up_execs)
        fold_out = sum(e.node_sum("number of output rows", name="Aggregate",
                                  desc=r"functions=\[max_by") for e in execs)
        m = ctx["metrics"][b]
        rec = ctx["records"][b]
        aff = [s for s in mine if s.name == "cdc.affected_buckets"]
        rows.append({
            "source.scan_rows_per_record": sum(
                e.node_sum("number of output rows", name=src) for e in execs) / rec,
            "source.scan_s": sum(e.pipeline_s(src) for e in execs),
            "pipeline.batch_s": wall,
            "pipeline.empty_probe_s": sum(s.dur for s in mine if s.name == "pipeline.empty_probe"),
            "pipeline.jobs_per_batch": len(execs),
            "cdc.sync_batch_s": sync.dur,
            "cdc.stats_s": sum(e.dur for e in stats),
            "cdc.affected_buckets_s": sum(s.dur for s in aff),
            "ogg.parse_fold_task_s": sum(
                e.pipeline_s(PARSE) + e.codegen_s(FOLD_INPUT) for e in execs),
            "ogg.fold_rows_out_per_in": fold_out / max(1, m.total - m.dead),
            "ogg.dead_letters": m.dead,
            "merge.upsert_many_s": sum(s.dur for s in upsert),
            "merge.buckets_touched_frac": median([s.info["frac"] for s in aff]),
            "merge.bytes_written_per_batch": written_bytes,
            "merge.write_amp": written_bytes / max(1, ctx["input_bytes"][b]),
            "merge.rows_read_per_row_written": state_rows / max(1.0, written_rows),
            "metrics.batch_log_ms": 1e3 * sum(s.dur for s in mine if s.name == "metrics.batch_log"),
            "trace.self_time_sum_s": sum(selfs.values()),
            "trace.coverage_gap_frac": abs(wall - covered) / wall,
            "trace.residual_stats_execs": len(stats),
        })
    gaps = [
        t0b - (t0a + events[a]["durationMs"]["triggerExecution"] / 1e3)
        for a, b2 in zip(measured, measured[1:])
        for t0a, t0b in [(_iso(events[a]["timestamp"]), _iso(events[b2]["timestamp"]))]
    ]
    out = {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}
    out["ogg.dead_letters"] = sum(r["ogg.dead_letters"] for r in rows)
    out["trace.coverage_gap_frac"] = max(r["trace.coverage_gap_frac"] for r in rows)
    out["pipeline.trigger_gap_s"] = median(gaps) if gaps else 0.0
    lookups = [s for s in spans.values() if s.name == "merge.lookup" and s.trace == "timed"]
    out["merge.lookup_ms"] = median([1e3 * s.dur for s in lookups])
    lk_execs = [e for e in ex if e.span_id() in {s.sid for s in lookups}]
    out["merge.lookup_buckets_read"] = median(
        [e.node_sum("number of partitions read", name="Scan parquet") for e in lk_execs
         if e.node_sum("number of partitions read", name="Scan parquet")])
    out["merge.store_files"] = _files_under(ctx["warehouse"])[0]
    return out


def query_layers(tracer: Tracer, ctx: dict) -> dict:
    """Per-query wall time and the plan metrics of the measured passes."""
    ex = tracer.executions()
    spans = [s for s in tracer.spans if s.name.startswith("query.") and isinstance(s.trace, int)]
    execs = [e for e in ex if e.span_id() in {s.sid for s in spans}]
    n_passes = max(1, len({s.trace for s in spans}))
    py = r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas|PythonUDF|ArrowWindowPython|AggregateInPandas"
    out = {f"query.{name}_s": median(v) for name, v in ctx["per_query"].items()}
    out["query.scan_task_s"] = sum(e.node_sum("scan time", name="Scan") for e in execs) / n_passes
    out["query.shuffle_bytes"] = sum(e.node_sum("shuffle bytes written") for e in execs) / n_passes
    out["query.spill_bytes"] = sum(e.node_sum("spill size") for e in execs) / n_passes
    out["query.python_eval_task_s"] = sum(
        e.node_sum("time to run Python workers", name=py) for e in execs) / n_passes
    out["query.python_rows"] = sum(
        e.node_sum("number of output rows", name=py) for e in execs) / n_passes
    return out


def index_layers(tracer: Tracer, ctx: dict) -> dict:
    """Median wall time of each epoch-store call over the measured epochs,
    probe latency, and the on-disk shape of each store at the end (parquet
    files and bytes, tombstone files included)."""
    timed = [s for s in tracer.spans if isinstance(s.trace, int) and s.trace > 0]
    out = {}
    for name in ("bm25.append", "bm25.delete", "bm25.compact", "ivf.upsert", "ivf.delete",
                 "ivf.compact", "gate.ingest", "ingest.epoch"):
        xs = [s.dur for s in timed if s.name == name]
        out[f"{name}_s"] = median(xs) if xs else 0.0
    for name in ("bm25.probe", "ivf.probe"):
        out[f"{name}_ms"] = median([1e3 * s.dur for s in timed if s.name == name])
    for store, path in ctx["stores"].items():
        n, b = _files_under(path)
        out[f"store.{store}.files"] = n
        out[f"store.{store}.bytes"] = b
        out[f"store.{store}.tombstones"] = _files_under(os.path.join(path, "_tombstones"))[0]
    return out


_CDC = {
    "source.scan_rows_per_record": "ratio", "source.scan_s": "s",
    "pipeline.batch_s": "s", "pipeline.empty_probe_s": "s", "pipeline.jobs_per_batch": "count",
    "pipeline.trigger_gap_s": "s", "cdc.sync_batch_s": "s", "cdc.stats_s": "s",
    "cdc.affected_buckets_s": "s", "ogg.parse_fold_task_s": "s",
    "ogg.fold_rows_out_per_in": "ratio", "ogg.dead_letters": "count",
    "merge.upsert_many_s": "s", "merge.buckets_touched_frac": "ratio",
    "merge.bytes_written_per_batch": "B", "merge.write_amp": "ratio",
    "merge.rows_read_per_row_written": "ratio", "merge.store_files": "count",
    "merge.lookup_ms": "ms", "merge.lookup_buckets_read": "count",
    "metrics.batch_log_ms": "ms", "trace.self_time_sum_s": "s",
    "trace.coverage_gap_frac": "ratio", "trace.residual_stats_execs": "count",
}
_QUERY = {
    "query.scan_task_s": "s", "query.shuffle_bytes": "B", "query.spill_bytes": "B",
    "query.python_eval_task_s": "s", "query.python_rows": "count",
}
_INDEX = {
    **{f"{n}_s": "s" for n in ("bm25.append", "bm25.delete", "bm25.compact", "ivf.upsert",
                                "ivf.delete", "ivf.compact", "gate.ingest", "ingest.epoch")},
    "bm25.probe_ms": "ms", "ivf.probe_ms": "ms",
    **{f"store.{st}.{k}": u for st in ("bm25", "ivf", "gate")
       for k, u in (("files", "count"), ("bytes", "B"), ("tombstones", "count"))},
}
_COMMON = {"jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "trace.bookkeeping_s": "s"}
COVERAGE_GAP_MAX = 0.10


def per_layer_units(mix: tuple[str, ...]) -> dict[str, str]:
    """Every per-layer metric with its unit. A traced run reports all of
    them; a layer the workload never calls reports 0 (it spent no time
    and did no work there)."""
    return {**_CDC, **{f"query.{q}_s": "s" for q in mix}, **_QUERY, **_INDEX, **_COMMON}


def coverage_problems(metrics: dict) -> list[str]:
    """The traced CDC run's per-batch coverage: span self times plus the
    engine's own trigger phases must account for the batch's wall time
    to within ``COVERAGE_GAP_MAX``."""
    gap = metrics.get("trace.coverage_gap_frac", 0.0)
    if gap > COVERAGE_GAP_MAX:
        return [f"trace coverage gap {gap:.3f} of a batch's wall time exceeds {COVERAGE_GAP_MAX}"]
    return []


def layer_metrics(tracer: Tracer, workload: str, res, jvm: dict, mix: tuple[str, ...]) -> dict:
    """``{name: (value, unit)}``: every per-layer metric for the traced run
    of ``workload``."""
    if workload == "cdc_drain":
        out = cdc_layers(tracer, res.context)
    else:
        out = {**query_layers(tracer, res.context), **index_layers(tracer, res.context)}
    out["jvm.gc_s"] = jvm["gc_s"]
    out["jvm.heap_peak_mb"] = jvm["heap_peak_mb"]
    out["trace.bookkeeping_s"] = tracer.overhead_s
    units = per_layer_units(mix)
    unknown = set(out) - set(units)
    if unknown:
        raise KeyError(f"per-layer metrics without a unit: {sorted(unknown)}")
    return {k: (float(out.get(k, 0.0)), u) for k, u in units.items()}
