"""The benchmark workloads. Each takes a ``Run`` (session, seed, work
directory, tracer) and returns a ``Result``: samples for the end-to-end
metrics, operation counts, and the problems the output checks found.

Every call into the engine goes through its public API, and the engine
receives only generated inputs.
"""

from __future__ import annotations

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from statistics import median

import gen
import oracles
import tables

# The reference's design batch: 2000 rec/s/partition x 5 partitions x 5 s.
MAX_RECORDS_PER_TRIGGER = 50_000
DESIGN_CEILING_REC_S = 10_000
SEED_EMP, SEED_DEPT = 2_000, 200
DRAIN_TRIGGER_S = 1  # shorter than a capped batch: triggers run back to back
WARM_RECORDS = 1_000  # one small micro-batch: the stream's first
LOOKUP_KEYS = (3, 3, 2)  # seeded, recently committed, never written
LOOKUPS = 3  # the first is a warm-up and is not timed
DRAIN_DEADLINE_S = 100


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)
    label: dict = field(default_factory=dict)
    context: dict = field(default_factory=dict)  # what the traced run reads


# ---------------------------------------------------------------------------
# cdc_drain
# ---------------------------------------------------------------------------
class _Progress:
    """Committed-offset bookkeeping from the query's progress events, and
    each micro-batch's ``BatchMetrics``."""

    def __init__(self):
        self.lock = threading.Lock()
        self.metrics: dict[int, object] = {}  # batch id -> BatchMetrics
        self.events: dict[int, dict] = {}  # batch id -> progress json
        self.committed = [0] * gen.N_PARTITIONS

    def on_batch(self, epoch_id: int, m) -> None:
        with self.lock:
            self.metrics[epoch_id] = m

    def on_progress(self, p: dict) -> None:
        if batch_records(p) == 0:  # a trigger that found no new offsets
            return
        end = end_offsets(p)
        with self.lock:
            self.events[p["batchId"]] = p
            for k, v in end.items():
                self.committed[int(k)] = max(self.committed[int(k)], int(v))

    def committed_total(self) -> int:
        with self.lock:
            return sum(self.committed)


def end_offsets(p: dict) -> dict[str, int]:
    """Per-partition end offsets of a progress event's (only) source."""
    end = p["sources"][0]["endOffset"]
    return json.loads(end) if isinstance(end, str) else end


def _start_offsets(p: dict) -> dict[str, int]:
    start = p["sources"][0]["startOffset"]
    return (json.loads(start) if isinstance(start, str) else start) or {}


def batch_records(p: dict) -> int:
    """Records in a micro-batch: end minus start offsets (the progress
    event's numInputRows also counts the rows the empty-batch probe read)."""
    start = _start_offsets(p)
    return sum(int(v) - int(start.get(k, 0)) for k, v in end_offsets(p).items())


def _listener(spark, progress: _Progress):
    from pyspark.sql.streaming import StreamingQueryListener

    class _L(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.on_progress(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    lst = _L()
    spark.streams.addListener(lst)
    return lst


class _Log:
    """The produced log: per partition, each line's emp key (None for other
    lines) and size, so offsets map back to records."""

    def __init__(self, path: str):
        self.path = path
        self.keys: list[list[str | None]] = [[] for _ in range(gen.N_PARTITIONS)]
        self.nbytes: list[list[int]] = [[] for _ in range(gen.N_PARTITIONS)]

    def append(self, lines: list[str], parts: list[int]) -> None:
        gen.write_partitioned(self.path, lines, parts)
        for line, p in zip(lines, parts):
            self.keys[p].append(_emp_key(line))
            self.nbytes[p].append(len(line.encode()) + 1)

    def produced(self) -> int:
        return sum(len(k) for k in self.keys)

    def batch_bytes(self, p: dict) -> int:
        start = _start_offsets(p)
        return sum(sum(self.nbytes[int(k)][int(start.get(k, 0)):int(v)])
                   for k, v in end_offsets(p).items())


def _emp_key(line: str) -> str | None:
    if not line.startswith('{"table":"SCOTT.EMP"'):
        return None
    i = line.find('"after":{"ID":"')
    if i < 0:
        return None
    j = line.index('"', i + 15)
    return line[i + 15:j]


def _emp_store(spark, warehouse: str):
    from kafkatosparktokudu_spark.catalog import default_catalog
    from kafkatosparktokudu_spark.operators.merge import StateStore

    t = default_catalog()["emp"]
    return StateStore(spark, f"{warehouse}/emp", [t.key], t.full_schema, 16)


class _Lookups:
    """Point reader: each lookup asks for seeded keys, keys of committed
    records, and keys that are never written."""

    def __init__(self, run, store, seeded: list[str], log: _Log, committed: list[int]):
        import numpy as np

        self.run, self.store, self.seeded = run, store, seeded
        self.log, self.committed = log, committed
        self.rng = np.random.default_rng(run.seed + 17)
        self.lat_ms: list[float] = []
        self.results: list[tuple[list[str], list[str]]] = []  # (returned, committed asked)
        self.errors: list[str] = []

    def _committed_keys(self) -> list[str]:
        keys = []
        for p, end in enumerate(self.committed):
            lo = max(0, end - 2_000)
            keys += [k for k in self.log.keys[p][lo:end] if k is not None]
        return keys

    def one(self, timed: bool) -> None:
        n_seed, n_recent, n_never = LOOKUP_KEYS
        r = self.rng
        must = {self.seeded[int(i)] for i in r.integers(0, len(self.seeded), n_seed)}
        recent = self._committed_keys()
        must |= {recent[int(i)] for i in r.integers(0, len(recent), n_recent)}
        never = {str(gen.EMP_KEYS + int(i)) for i in r.integers(0, 10**6, n_never)}
        keys = sorted(must | never)
        t = time.perf_counter()
        try:
            with self.run.span("merge.lookup", "timed" if timed else "warm-up"):
                got = [row[0] for row in self.store.lookup(keys).select("id").collect()]
        except Exception as e:  # noqa: BLE001 — a failed read is a counted failure
            self.errors.append(f"{type(e).__name__}: {str(e)[:200]}")
            return
        finally:
            if timed:
                self.lat_ms.append((time.perf_counter() - t) * 1e3)
        self.results.append((sorted(got), sorted(must)))


def _start_stream(run, log_dir: str, progress: _Progress):
    from kafkatosparktokudu_spark.config import PipelineConfig
    from kafkatosparktokudu_spark.sources.kafka_shaped import kafka_shaped_source
    from kafkatosparktokudu_spark.streaming.pipeline import start_cdc_sync

    cfg = PipelineConfig(
        warehouse_dir=f"{run.work}/wh",
        checkpoint_dir=f"{run.work}/checkpoint",
        metrics_dir=f"{run.work}/metrics",
        trigger_interval=f"{DRAIN_TRIGGER_S} seconds",
    )
    src = kafka_shaped_source(
        run.spark, log_dir, max_records_per_trigger=MAX_RECORDS_PER_TRIGGER
    )
    return start_cdc_sync(run.spark, src, cfg, on_batch=progress.on_batch)


def _wait_committed(progress: _Progress, total: int, deadline: float, query) -> bool:
    while progress.committed_total() < total:
        if time.time() > deadline or query.exception() is not None:
            return False
        time.sleep(0.02)
    return True


def _seed_store(run, g: gen.CdcGenerator) -> list[str]:
    """Populate the store through ``cdc.sync_batch`` (the batch form of the
    foreachBatch body) and return the seeded emp keys. The seed lines are
    part of the log the output check folds."""
    from kafkatosparktokudu_spark.cdc import sync_batch

    lines, _ = g.seed_lines(SEED_EMP, SEED_DEPT)
    gen.write_partitioned(f"{run.work}/seedlog", lines, [0] * len(lines))
    sync_batch(run.spark, run.spark.read.text(f"{run.work}/seedlog/partition=0/data.jsonl"),
               f"{run.work}/wh")
    return [str(k) for k in g.seed_keys["emp"]]


def cdc_drain(run) -> Result:
    """Set-up: the stream starts on an empty log (in the background) while
    ``cdc.sync_batch`` seeds the store with full-row inserts; one small
    mixed micro-batch then warms the stream. Measured: the backlog a
    producer at the design ceiling writes in ``seconds``, in whole capped
    micro-batches, lands at once and is drained by back-to-back triggers;
    the run ends when every produced offset is committed. Point lookups
    then run on the quiescent store."""
    res = Result()
    spark = run.spark
    g = gen.CdcGenerator(run.seed)
    log = _Log(f"{run.work}/log")
    progress = _Progress()
    lst = _listener(spark, progress)
    for p in range(gen.N_PARTITIONS):
        os.makedirs(f"{log.path}/partition={p}")
        open(f"{log.path}/partition={p}/data.jsonl", "w").close()
    started: list = []
    starter = threading.Thread(
        target=lambda: started.append(_start_stream(run, log.path, progress)))
    starter.start()
    run.phase("seed")
    try:
        seeded = _seed_store(run, g)
    finally:
        starter.join()
    if not started:
        raise RuntimeError("the CDC stream failed to start")
    query = started[0]
    try:
        run.phase("warm")
        log.append(*g.next_lines(WARM_RECORDS, balanced=True))
        # balanced, so every capped trigger takes exactly one cap off the
        # backlog
        caps = max(1, round(run.seconds * DESIGN_CEILING_REC_S / MAX_RECORDS_PER_TRIGGER))
        main_lines, main_parts = g.next_lines(caps * MAX_RECORDS_PER_TRIGGER, balanced=True)
        if not _wait_committed(progress, log.produced(), time.time() + 120, query):
            raise RuntimeError(f"warm-up batch not committed: {query.exception()}")
        run.phase("align")
        warm_batches = set(progress.events)
        # append just after a trigger instant, so no trigger sees the
        # backlog half written
        time.sleep(DRAIN_TRIGGER_S - time.time() % DRAIN_TRIGGER_S + 0.05)
        run.setup_done()
        log.append(main_lines, main_parts)
        # the backlog is due at once; its last line is written this late
        lateness = time.time() - run.t_measure
        ok = _wait_committed(progress, log.produced(), time.time() + DRAIN_DEADLINE_S, query)
        t_end = time.time()
    finally:
        query.stop()
        spark.streams.removeListener(lst)
    # point reads on the quiescent store: a read that overlaps a merge can
    # fail (README: engine defects), so none runs while the stream writes
    run.phase("reads")
    reader = _Lookups(run, _emp_store(spark, f"{run.work}/wh"), seeded, log,
                      list(progress.committed))
    for i in range(LOOKUPS):
        reader.one(timed=i > 0)
    run.phase("check")
    measured = sorted(b for b in progress.events if b not in warm_batches)
    durs = [progress.events[b]["durationMs"]["triggerExecution"] / 1e3 for b in measured]
    recs = [batch_records(progress.events[b]) for b in measured]
    committed = progress.committed_total()
    res.attempted = len(main_lines) + LOOKUPS
    res.failed = (log.produced() - committed) + len(reader.errors)
    if not ok:
        res.problems.append(f"{log.produced() - committed} records not committed by the deadline")
    res.problems += reader.errors[:3]
    res.problems += oracles.check_lookups(reader.results)
    dead = sum(m.dead for m in progress.metrics.values())
    res.problems += oracles.check_cdc(
        f"{run.work}/wh",
        oracles.log_files(f"{run.work}/seedlog") + oracles.log_files(log.path),
        dead, g.n_dead,
    )
    res.samples = {"work_s": [t_end - run.t_measure], "step_s": durs}
    res.label.update(
        cdc_rec_s=sum(recs) / sum(durs) if durs else None,
        batch_p50_s=median(durs) if durs else None,
        lookup_ms=reader.lat_ms,
        measured_batches=list(zip(recs, durs)),
        all_batches=[(b, batch_records(progress.events[b]), progress.events[b]["durationMs"])
                     for b in sorted(progress.events)],
        dead_letters_generated=g.n_dead,
        generator_lateness_s=lateness,
    )
    res.context = {
        "events": progress.events, "measured": measured, "metrics": progress.metrics,
        "records": dict(zip(measured, recs)),
        "input_bytes": {b: log.batch_bytes(progress.events[b]) for b in measured},
        "warehouse": f"{run.work}/wh",
    }
    return res


# ---------------------------------------------------------------------------
# query_index: the analytic and LLM-operator query surface, then the epoch
# stores (BM25 postings, IVF cells, ingest gate); no CDC code runs
# ---------------------------------------------------------------------------
TABLES_SF = 0.01  # tables.build scale: lineitem ~60k rows, 500 documents
# one query per path the index calls below do not run: joins and decimal
# aggregates, key-term extraction (text), near-dup pairs and their
# clusters (dedup, graph); operators.similarity runs through the IVF index
MIX = ("q54_market_share", "tx07_keyterms", "px02_cluster_dedup_pipeline")
ID_SPACE = 10_000_000
N_CELLS = 16
TOP_N = 20


def _fresh_docs(spark, docs, plan: dict):
    from pyspark.sql import functions as F

    from kafkatosparktokudu_spark.functions.localframe import local_frame

    ids = local_frame(spark, [(i,) for i in plan["base_ids"]], "doc_id bigint")
    prefix = plan["prefix"]
    return docs.join(ids, "doc_id").select(
        (F.col("doc_id") + plan["offset"]).alias("doc_id"),
        F.array_join(F.transform(F.split("text", " "),
                                 lambda t: F.concat(F.lit(prefix), t)), " ").alias("text"),
    ).withColumn("n_chars", F.length("text"))


def _fresh_vecs(spark, emb, plan: dict):
    from pyspark.sql import functions as F

    from kafkatosparktokudu_spark.functions.localframe import local_frame

    ids = local_frame(spark, [(i,) for i in plan["base_ids"]], "vec_id bigint")
    return emb.join(ids, "vec_id").select(
        (F.col("vec_id") + plan["offset"]).alias("vec_id"), "embedding", "label")


def _probe_terms(rng, fresh_epochs: list[int]) -> list[str]:
    base = ["spark", "stream", "merge", "index", "window", "vector", "batch", "key"]
    terms = [base[int(i)] for i in rng.choice(len(base), 2, replace=False)]
    if fresh_epochs:
        e = fresh_epochs[int(rng.integers(0, len(fresh_epochs)))]
        terms.append(f"e{e}x{base[int(rng.integers(0, len(base)))]}")
    return terms


class _Indexes:
    """The BM25 index, the IVF index and the gate store over the seeded
    ``documents``/``embeddings``, and the bookkeeping the output checks
    need. Epoch kinds come from ``gen.EpochPlan``; the delete epoch ends
    with a compaction of both indexes."""

    def __init__(self, run, sf_dir: str):
        import numpy as np
        from pyspark.sql import functions as F

        from kafkatosparktokudu_spark.operators import similarity, text
        from kafkatosparktokudu_spark.sources.batch import load_table
        from kafkatosparktokudu_spark.streaming import pipeline

        self.run, self.spark = run, run.spark
        self.text, self.similarity, self.pipeline = text, similarity, pipeline
        w = run.work
        self.bm25, self.ivf = f"{w}/bm25", f"{w}/ivf"
        self.gate, self.gate_out = f"{w}/gate", f"{w}/gate_out"
        self.docs = load_table(self.spark, sf_dir, "documents").select("doc_id", "text").cache()
        self.emb = load_table(self.spark, sf_dir, "embeddings").select(
            "vec_id", "embedding", "label").cache()
        n_docs, n_vecs = (tables.num_rows(sf_dir, t) for t in ("documents", "embeddings"))
        self.doc_plan = gen.EpochPlan(run.seed, n_docs, ID_SPACE)
        self.vec_plan = gen.EpochPlan(run.seed + 1, n_vecs, ID_SPACE)
        self.rng = np.random.default_rng(run.seed + 2)
        builds = {
            ("bm25.build", None): lambda: text.build_bm25_index(self.docs, self.bm25),
            ("ivf.build", None): lambda: similarity.build_ivf_index(
                self.emb, self.ivf, n_cells=N_CELLS),
            ("gate.ingest", 0): lambda: pipeline.ingest_shards_epoch(
                self.docs.withColumn("n_chars", F.length("text")), 0, self.gate, self.gate_out),
        }

        def build(key):
            with run.span(*key):
                builds[key]()

        # the three stores are independent; set-up builds them side by side
        run.phase("build")
        with ThreadPoolExecutor(len(builds)) as pool:
            for f in [pool.submit(build, key) for key in builds]:
                f.result()
        self.qvecs = [list(map(float, r[0])) for r in
                      self.emb.orderBy("vec_id").limit(8).select("embedding").collect()]
        self.fresh_epochs: list[int] = []
        self.accepted: set[int] = set()  # fresh-epoch doc ids the gate accepted
        self.resent: dict[int, int] = {}  # re-sent copy id -> source id
        self.resent_flags: dict[int, bool] = {}

    def epoch(self, e: int) -> None:
        """A fresh epoch: gate, BM25 append, IVF upsert. A re-sent epoch:
        gate, BM25 append of what it accepts, BM25 and IVF deletes, then
        compaction of both indexes."""
        from pyspark.sql import functions as F

        from kafkatosparktokudu_spark.functions.localframe import local_frame

        run, spark, text, similarity = self.run, self.spark, self.text, self.similarity
        dp, vp = self.doc_plan.next(e), self.vec_plan.next(e)
        with run.span("ingest.epoch", e):
            batch = _fresh_docs(spark, self.docs, dp)
            with run.span("gate.ingest", e):
                self.pipeline.ingest_shards_epoch(batch, e, self.gate, self.gate_out)
            flags = spark.read.parquet(f"{self.gate_out}/flags/epoch={e}")
            keep = batch.join(flags.filter(~F.col("is_dup")).select("doc_id"), "doc_id")
            with run.span("bm25.append", e):
                text.append_bm25_index(keep.select("doc_id", "text"), self.bm25, epoch=e)
            if vp["kind"] == "fresh":
                with run.span("ivf.upsert", e):
                    similarity.upsert_ivf_index(_fresh_vecs(spark, self.emb, vp), self.ivf, epoch=e)
                self.vec_plan.add_live(b + vp["offset"] for b in vp["base_ids"])
            else:
                ids = local_frame(spark, [(i,) for i in dp["ids"]], "doc_id bigint")
                with run.span("bm25.delete", e):
                    text.delete_from_bm25_index(spark, self.bm25, ids, epoch=e)
                ids = local_frame(spark, [(i,) for i in vp["ids"]], "vec_id bigint")
                with run.span("ivf.delete", e):
                    similarity.delete_from_ivf_index(spark, self.ivf, ids, epoch=e)
                with run.span("bm25.compact", e):
                    text.compact_bm25_index(spark, self.bm25)
                with run.span("ivf.compact", e):
                    similarity.compact_ivf_index(spark, self.ivf)
        # bookkeeping for the checks, untimed: which docs the gate took in
        rows = spark.read.parquet(f"{self.gate_out}/flags/epoch={e}").select(
            "doc_id", "is_dup").collect()
        took = [r[0] for r in rows if not r[1]]
        self.doc_plan.add_live(took)
        if dp["kind"] == "fresh":
            self.fresh_epochs.append(e)
            self.accepted.update(took)
        else:
            for b in dp["base_ids"]:
                self.resent[b + dp["offset"]] = b + dp["source_offset"]
            self.resent_flags.update({r[0]: r[1] for r in rows})

    def probes(self, trace, probe_ms: list[float]) -> None:
        """One BM25 and one IVF top-k probe, one client."""
        terms = _probe_terms(self.rng, self.fresh_epochs)
        t = time.perf_counter()
        with self.run.span("bm25.probe", trace):
            self.text.bm25_index_topk(self.spark, self.bm25, terms, top_n=TOP_N).collect()
        probe_ms.append((time.perf_counter() - t) * 1e3)
        q = self.qvecs[int(self.rng.integers(0, len(self.qvecs)))]
        t = time.perf_counter()
        with self.run.span("ivf.probe", trace):
            self.similarity.ivf_index_topk(self.spark, self.ivf, q, k=10).collect()
        probe_ms.append((time.perf_counter() - t) * 1e3)

    def check(self) -> list[str]:
        """Final probes against brute force over the live corpus: BM25
        postings top-n equals ``bm25_rank`` over the live docs, a
        full-width IVF probe equals ``brute_force_topk`` over the live
        vectors; and every re-sent copy of an accepted doc was flagged."""
        from kafkatosparktokudu_spark.functions.localframe import local_frame

        spark, docs, emb = self.spark, self.docs, self.emb
        corpus = docs
        for plan in self.doc_plan.history:
            corpus = corpus.unionByName(_fresh_docs(spark, docs, plan).select("doc_id", "text"))
        keep = local_frame(spark, [(i,) for i in sorted(self.doc_plan.live)], "doc_id bigint")
        corpus = corpus.join(keep, "doc_id")
        vcorpus = emb
        for p in self.vec_plan.history:
            if p["kind"] == "fresh":
                vcorpus = vcorpus.unionByName(_fresh_vecs(spark, emb, p))
        vkeep = local_frame(spark, [(i,) for i in sorted(self.vec_plan.live)], "vec_id bigint")
        vcorpus = vcorpus.join(vkeep, "vec_id")
        terms = _probe_terms(self.rng, self.fresh_epochs)
        got = [tuple(r) for r in
               self.text.bm25_index_topk(spark, self.bm25, terms, top_n=TOP_N).collect()]
        want = [tuple(r) for r in self.text.bm25_rank(corpus, terms, top_n=TOP_N).collect()]
        problems = oracles.check_ranked(f"bm25 {terms}", got, want)
        q = self.qvecs[int(self.rng.integers(0, len(self.qvecs)))]
        got = [tuple(r) for r in self.similarity.ivf_index_topk(
            spark, self.ivf, q, k=10, nprobe=N_CELLS).collect()]
        want = [tuple(r) for r in self.similarity.brute_force_topk(vcorpus, q, k=10).collect()]
        problems += oracles.check_ranked("ivf full-width probe", got, want)
        problems += oracles.check_resent_flagged(self.resent_flags, self.resent, self.accepted)
        return problems


def query_index(run) -> Result:
    """Set-up writes the seeded tables and builds the two indexes and the
    gate store. Measured, one closed-loop client: a pass over the mix in
    an order drawn from the seed, each query's rows collected (and checked
    against the oracles after the measured window), then a cycle of
    maintenance epochs (fresh; re-sent, delete and compaction) and a BM25
    and an IVF probe; repeated until ``seconds`` have gone."""
    import numpy as np

    from kafkatosparktokudu_spark.plans.queries import QUERIES

    spark = run.spark
    res = Result()
    run.phase("tables")
    sf_dir = tables.write_tables(f"{run.work}/tables", run.seed, TABLES_SF)
    idx = _Indexes(run, sf_dir)
    rng = np.random.default_rng(run.seed)
    passes, per_query, outputs = [], {n: [] for n in MIX}, {}
    epoch_s, probe_ms = [], []
    run.setup_done()
    t0, e = time.time(), 0
    while not passes or time.time() - t0 < run.seconds:
        t_pass = time.perf_counter()
        for i in rng.permutation(len(MIX)):
            name = MIX[i]
            t = time.perf_counter()
            with run.span(f"query.{name}", len(passes)):
                sdf = QUERIES[name](spark, sf_dir)
                outputs[name] = ([tuple(r) for r in sdf.collect()], sdf.columns)
            per_query[name].append(time.perf_counter() - t)
        passes.append(time.perf_counter() - t_pass)
        for _ in gen.EpochPlan.KINDS:
            e += 1
            t = time.perf_counter()
            idx.epoch(e)
            epoch_s.append(time.perf_counter() - t)
        idx.probes(e, probe_ms)
    work_s = time.time() - t0
    run.phase("check")
    for name, (rows, cols) in outputs.items():
        res.problems += oracles.check_query(name, rows, cols, sf_dir)
    res.problems += idx.check()
    res.attempted = len(passes) * len(MIX) + len(epoch_s) + len(probe_ms)
    res.samples = {"work_s": [work_s], "step_s": epoch_s}
    res.label.update(mix_pass_s=passes, epoch_s=epoch_s, probe_ms=probe_ms,
                     query_s={n: v for n, v in per_query.items()})
    res.context = {"per_query": per_query,
                   "stores": {"bm25": idx.bm25, "ivf": idx.ivf, "gate": idx.gate}}
    return res


# ---------------------------------------------------------------------------
# end-to-end metrics: the same on every workload
# ---------------------------------------------------------------------------
def end_to_end(res: Result, run, t_start: float) -> dict:
    """``setup_s``; ``work_s``, the wall time of the measured work;
    ``step_p50_s``, the median wall time of its unit step (a capped
    micro-batch, a maintenance epoch)."""
    return {
        "setup_s": (run.t_measure - t_start, "s"),
        "work_s": (sum(res.samples["work_s"]), "s"),
        "step_p50_s": (median(res.samples["step_s"]), "s"),
    }


WORKLOADS = {
    "cdc_drain": cdc_drain,
    "query_index": query_index,
}
