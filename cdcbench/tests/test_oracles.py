"""Self-tests of the benchmark's output checks: each check passes on what
the engine produces and fails once that output is deliberately corrupted.

    python -m pytest cdcbench/tests -q
"""

from __future__ import annotations

import collections
import glob
import json
import math

import gen
import oracles
import pytest
import tables
import tracing


# ---------------------------------------------------------------------------
# generator contract
# ---------------------------------------------------------------------------
def _records(lines):
    out = []
    for line in lines:
        try:
            out.append(json.loads(line))
        except ValueError:
            out.append(None)
    return out


def test_generator_is_seeded_and_keeps_key_order_per_partition():
    def make(seed):
        g = gen.CdcGenerator(seed)
        seed_lines, seed_parts = g.seed_lines(200, 20)
        lines, parts = g.next_lines(5_000, balanced=True)
        return g, seed_lines + lines, seed_parts + parts

    g, lines, parts = make(3)
    assert make(3)[1] == lines and make(4)[1] != lines
    assert collections.Counter(parts[220:]) == {p: 1_000 for p in range(gen.N_PARTITIONS)}
    last_ts, home = {}, {}
    dead = 0
    for rec, p in zip(_records(lines), parts):
        valid = (
            rec is not None and rec.get("table") and "." in rec["table"]
            and rec.get("after") and "ID" in rec["after"]
        )
        if not valid:
            dead += 1
            continue
        key = (rec["table"], rec["after"]["ID"])
        assert home.setdefault(key, p) == p  # a key lives in one partition
        assert rec["current_ts"] >= last_ts.get(key, "")  # never goes back
        last_ts[key] = rec["current_ts"]
    assert dead == g.n_dead > 0
    ts = [r["current_ts"] for r in _records(lines) if r and r.get("current_ts")]
    assert len(set(ts)) < len(ts)  # runs of equal timestamps stay in
    ops = collections.Counter(r["op_type"] for r in _records(lines) if r and r.get("op_type"))
    assert {"I", "U", "D"} <= set(ops)
    # the rank -> key map is a bijection for every seed
    assert all(math.gcd(gen.CdcGenerator(s)._perm_a, gen.EMP_KEYS) == 1 for s in range(50))


# ---------------------------------------------------------------------------
# CDC: final store state vs the DuckDB fold of the log
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def cdc_run(spark, tmp_path_factory):
    """The engine's batch form over a generated log, in three arrival-
    ordered micro-batches."""
    from kafkatosparktokudu_spark.cdc import sync_batch

    work = tmp_path_factory.mktemp("cdc")
    g = gen.CdcGenerator(11)
    lines, _ = g.seed_lines(300, 30)
    more, _ = g.next_lines(3_000)
    lines += more
    log = work / "log"
    gen.write_partitioned(str(log), lines, [0] * len(lines))
    dead = 0
    for i, chunk in enumerate((lines[:330], lines[330:1800], lines[1800:])):
        f = work / f"batch{i}.jsonl"
        f.write_text("\n".join(chunk) + "\n")
        dead += sync_batch(spark, spark.read.text(str(f)), str(work / "wh")).dead
    return str(work / "wh"), oracles.log_files(str(log)), dead, g.n_dead


def test_cdc_check_passes_on_engine_output(cdc_run):
    wh, files, dead, n_dead = cdc_run
    assert oracles.check_cdc(wh, files, dead, n_dead) == []


def test_cdc_check_fails_on_corrupted_store(cdc_run, tmp_path):
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    wh, files, dead, n_dead = cdc_run
    bad = tmp_path / "wh"
    shutil.copytree(wh, bad)
    victim = sorted(glob.glob(str(bad / "emp" / "_bucket=*" / "*.parquet")))[0]
    t = pq.read_table(victim)
    names = t.column("name").to_pylist()
    names[0] = "tampered"
    pq.write_table(t.set_column(t.schema.get_field_index("name"), "name", pa.array(names)),
                   victim)
    problems = oracles.check_cdc(str(bad), files, dead, n_dead)
    assert problems and problems[0].startswith("emp:")


def test_cdc_check_fails_on_lost_record_and_dead_count(cdc_run, tmp_path):
    wh, files, dead, n_dead = cdc_run
    longer = tmp_path / "partition=9" / "data.jsonl"
    longer.parent.mkdir()
    g = gen.CdcGenerator(12)
    longer.write_text("\n".join(g.seed_lines(5, 0)[0]) + "\n")  # never synced
    assert any(p.startswith("emp:") for p in
               oracles.check_cdc(wh, files + [str(longer)], dead, n_dead))
    assert oracles.check_cdc(wh, files, dead - 1, n_dead) == [
        f"dead letters: engine {dead - 1} != generated {n_dead}"]


# ---------------------------------------------------------------------------
# point lookups
# ---------------------------------------------------------------------------
def test_lookup_check():
    ok = [(["1", "2"], ["1", "2"]), ([], [])]
    assert oracles.check_lookups(ok) == []
    assert oracles.check_lookups(ok + [(["1"], ["1", "2"])])  # lost a committed key
    assert oracles.check_lookups(ok + [(["1", "2", "9"], ["1", "2"])])  # never-written key
    assert oracles.check_lookups(ok + [(["1", "1", "2"], ["1", "2"])])  # duplicate row


# ---------------------------------------------------------------------------
# seeded tables, queries vs ORACLE_SQL
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    return tables.write_tables(str(tmp_path_factory.mktemp("tables")), 5, 0.01)


def test_tables_are_seeded():
    a, b, c = tables.build(5, 0.001), tables.build(5, 0.001), tables.build(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_query_check(spark, sf_dir):
    from kafkatosparktokudu_spark.plans.queries import QUERIES

    name = "q17_sessionize"
    sdf = QUERIES[name](spark, sf_dir)
    rows, cols = [tuple(r) for r in sdf.collect()], sdf.columns
    assert oracles.check_query(name, rows, cols, sf_dir) == []
    assert oracles.check_query(name, rows[1:], cols, sf_dir)
    bumped = [tuple(v + 1 if isinstance(v, int) and not isinstance(v, bool) else v
                    for v in rows[0])] + rows[1:]
    assert oracles.check_query(name, bumped, cols, sf_dir)


# ---------------------------------------------------------------------------
# indexes vs brute force over the live corpus, and the ingest gate
# ---------------------------------------------------------------------------
def test_index_checks(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from kafkatosparktokudu_spark.operators import similarity, text
    from kafkatosparktokudu_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    text.build_bm25_index(docs.filter("doc_id < 400"), str(tmp_path / "bm25"))
    text.append_bm25_index(docs.filter("doc_id >= 400"), str(tmp_path / "bm25"), epoch=1)
    text.delete_from_bm25_index(spark, str(tmp_path / "bm25"),
                                docs.filter("doc_id % 7 = 0").select("doc_id"), epoch=2)
    live = docs.filter("doc_id % 7 != 0")
    terms = ["spark", "stream", "merge"]
    got = [tuple(r) for r in text.bm25_index_topk(spark, str(tmp_path / "bm25"), terms).collect()]
    want = [tuple(r) for r in text.bm25_rank(live, terms).collect()]
    assert oracles.check_ranked("bm25", got, want) == []
    assert oracles.check_ranked("bm25", got[:-1], want)
    assert oracles.check_ranked("bm25", [got[1], got[0]] + got[2:], want)

    similarity.build_ivf_index(emb.filter("vec_id < 400"), str(tmp_path / "ivf"), n_cells=4)
    similarity.upsert_ivf_index(emb.filter("vec_id >= 400"), str(tmp_path / "ivf"), epoch=1)
    similarity.delete_from_ivf_index(spark, str(tmp_path / "ivf"),
                                     emb.filter("vec_id % 5 = 0").select("vec_id"), epoch=2)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 1).head()["embedding"]]
    got = [tuple(r) for r in similarity.ivf_index_topk(
        spark, str(tmp_path / "ivf"), q, k=10, nprobe=4).collect()]
    want = [tuple(r) for r in similarity.brute_force_topk(
        emb.filter("vec_id % 5 != 0"), q, k=10).collect()]
    assert oracles.check_ranked("ivf", got, want) == []
    assert oracles.check_ranked("ivf", got[1:], want)
    assert oracles.check_ranked("ivf", [(got[0][0] + 1,) + got[0][1:]] + got[1:], want)


def test_resent_check():
    resent = {100: 1, 101: 2, 102: 3}
    accepted = {1, 2}
    assert oracles.check_resent_flagged({100: True, 101: True, 102: False}, resent, accepted) == []
    assert oracles.check_resent_flagged({100: True, 101: False, 102: True}, resent, accepted)


# ---------------------------------------------------------------------------
# the traced run's coverage of each micro-batch's wall time
# ---------------------------------------------------------------------------
def test_coverage_check():
    assert tracing.coverage_problems({"trace.coverage_gap_frac": 0.004}) == []
    assert tracing.coverage_problems({"trace.coverage_gap_frac": 0.10}) == []
    assert tracing.coverage_problems({"trace.coverage_gap_frac": 0.13})
