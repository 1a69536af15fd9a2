"""Seeded input generators for the benchmark workloads.

CDC log contract (what makes the DuckDB last-write-wins oracle agree with
the engine wherever micro-batch boundaries fall):

- every record carries a global production index ``pos``; ``current_ts``
  comes from one clock that never goes backwards in production order, and
  advances in runs, so several records share one timestamp;
- a key always maps to the same log partition (``partition_of``), so a
  key's records keep production order inside its partition and
  ``(current_ts, pos)`` orders them the way the engine does: by
  ``current_ts`` inside a batch and by arrival across batches;
- payload values are always castable to the catalog type, so a cast
  applied per batch and a cast applied to the global fold agree;
- about 1% of lines are dead letters of four kinds the engine must drop.

The program under test only ever sees the generated lines.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import numpy as np

N_PARTITIONS = 5
DEAD_SHARE = 0.01
EMP_KEYS = 2_000_000
DEPT_KEYS = 20_000
_T0 = dt.datetime(2024, 1, 1)

DEAD_KINDS = ("malformed_json", "null_table", "no_schema_qualifier", "missing_id")


def partition_of(table: str, key: int) -> int:
    """Key → log partition, like a Kafka producer's key hash."""
    return (key * 2654435761 + (7 if table == "dept" else 0)) % (2**32) % N_PARTITIONS


class CdcGenerator:
    """Deterministic OGG change-record stream for one ``seed``.

    ``next_lines(n)`` returns ``n`` JSON lines and the partition of each;
    successive calls continue the stream. Keys are power-law skewed over a
    key space far larger than a micro-batch, and the I/U/D mix tracks which
    keys exist, so inserts, partial updates, deletes and resurrections
    all occur. Random draws are made in vectors; only the per-key state
    and the string assembly run per record.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.pos = 0
        self.clock_us = 0
        self.alive: dict[tuple[str, int], bool] = {}
        self.n_dead = 0
        # a random affine map scatters the hot ranks over the key space; a
        # multiplier coprime with the key count keeps it a bijection, so
        # every seed sees the same number of distinct keys
        self._perm_a = int(self.rng.integers(1, EMP_KEYS)) | 1
        while math.gcd(self._perm_a, EMP_KEYS) != 1:
            self._perm_a = int(self.rng.integers(1, EMP_KEYS)) | 1
        self._perm_b = int(self.rng.integers(0, EMP_KEYS))

    def _timestamps(self, n: int) -> list[str]:
        # runs of equal timestamps: the clock moves on ~1/3 of records
        steps = np.where(self.rng.random(n) < 0.35, self.rng.integers(1, 2_000, n), 0)
        us = self.clock_us + np.cumsum(steps)
        self.clock_us = int(us[-1])
        ts = np.datetime64(_T0, "us") + us.astype("timedelta64[us]")
        return np.datetime_as_string(ts, unit="us").tolist()

    def _payloads(self, n: int):
        """Per-record column fragments (JSON members) of a full emp row and
        a full dept row; ``emp(i)`` / ``dept(i)`` build record ``i``'s."""
        r = self.rng
        names = r.integers(0, 50_000, n).tolist()
        sal = r.integers(1_000, 200_000, n).tolist()
        cents = (r.integers(0, 4, n) * 25).tolist()
        dept = r.integers(0, 500, n).tolist()
        active = (r.random(n) < 0.8).tolist()
        hire = np.datetime64(_T0, "s") - r.integers(0, 10**9, n).astype("timedelta64[s]")
        hire_s = np.datetime_as_string(hire, unit="s").tolist()
        dnames = r.integers(0, 5_000, n).tolist()
        budget = r.integers(0, 100_000, n).tolist()

        def emp(i: int) -> list[str]:
            return [f'"NAME":"name{names[i]}"', f'"SALARY":"{sal[i]}.{cents[i]:02d}"',
                    f'"DEPT_ID":"{dept[i]}"', f'"ACTIVE":"{"1" if active[i] else "0"}"',
                    f'"HIRE_TS":"{hire_s[i].replace("T", " ")}"']

        def dpt(i: int) -> list[str]:
            return [f'"DNAME":"dept{dnames[i]}"', f'"BUDGET":"{budget[i]}.5"']

        return emp, dpt

    def _line(self, table: str, key: int, op: str, ts: str, cols: list[str]) -> str:
        after = ",".join([f'"ID":"{key}"', *cols])
        line = (f'{{"table":"SCOTT.{table.upper()}","op_type":"{op}",'
                f'"current_ts":"{ts}","pos":{self.pos},"after":{{{after}}}}}')
        self.pos += 1
        self.alive[(table, key)] = op != "D"
        return line

    def seed_lines(self, n_emp: int, n_dept: int) -> tuple[list[str], list[int]]:
        """Full-row inserts of distinct keys that populate the store before
        the timed stream, and the partition of each; the stream then
        updates and deletes them too."""
        emp = self.rng.choice(EMP_KEYS, size=n_emp, replace=False).tolist()
        dept = self.rng.choice(DEPT_KEYS, size=n_dept, replace=False).tolist()
        self.seed_keys = {"emp": emp, "dept": dept}
        n = n_emp + n_dept
        ts = self._timestamps(n)
        pe, pd_ = self._payloads(n)
        lines = [self._line("emp", k, "I", ts[i], pe(i)) for i, k in enumerate(emp)]
        lines += [self._line("dept", k, "I", ts[n_emp + i], pd_(n_emp + i))
                  for i, k in enumerate(dept)]
        parts = [partition_of("emp", k) for k in emp] + [partition_of("dept", k) for k in dept]
        return lines, parts

    def _dead(self, kind: int, ts: str) -> str:
        self.n_dead += 1
        self.pos += 1
        if DEAD_KINDS[kind] == "malformed_json":
            return '{"table":"SCOTT.EMP","op_type":"U","after":{"ID":'
        if DEAD_KINDS[kind] == "null_table":
            return '{"table":null,"op_type":null,"current_ts":null,"after":null}'
        if DEAD_KINDS[kind] == "no_schema_qualifier":
            return f'{{"table":"EMP","op_type":"I","current_ts":"{ts}","after":{{"ID":"1"}}}}'
        return f'{{"table":"SCOTT.EMP","op_type":"U","current_ts":"{ts}","after":{{"NAME":"x"}}}}'

    def next_lines(self, n: int, balanced: bool = False) -> tuple[list[str], list[int]]:
        """``n`` more lines and the partition each belongs to. With
        ``balanced`` every partition gets exactly ``n / N_PARTITIONS`` lines
        (a record whose key's partition is full moves to the next key), so
        a capped trigger takes whole-cap batches off the backlog."""
        r = self.rng
        room = [n // N_PARTITIONS] * N_PARTITIONS if balanced else None
        is_dept = (r.random(n) < 0.08).tolist()
        is_dead = (r.random(n) < DEAD_SHARE).tolist()
        # power-law skew: rank = K * u^3, so the hottest key takes ~1% of
        # the emp records and a 50k batch still holds tens of thousands of
        # distinct keys
        ranks = (EMP_KEYS * r.random(n) ** 3).astype(np.int64)
        emp_keys = ((ranks * self._perm_a + self._perm_b) % EMP_KEYS).tolist()
        dept_keys = r.integers(0, DEPT_KEYS, n).tolist()
        op_draw = r.random(n).tolist()
        keep = (r.random((n, 5)) < 0.4).tolist()
        must = r.integers(0, 5, n).tolist()
        dead_kind = r.integers(0, len(DEAD_KINDS), n).tolist()
        dead_part = r.integers(0, N_PARTITIONS, n).tolist()
        ts = self._timestamps(n)
        pe, pd_ = self._payloads(n)
        lines, parts = [], []
        for i in range(n):
            table = "dept" if is_dept[i] else "emp"
            key = dept_keys[i] if is_dept[i] else emp_keys[i]
            if room is not None:
                if is_dead[i]:
                    dead_part[i] = next(p for p in range(N_PARTITIONS) if room[p])
                else:
                    space = EMP_KEYS if table == "emp" else DEPT_KEYS
                    while not room[partition_of(table, key)]:
                        key = (key + 1) % space
                room[dead_part[i] if is_dead[i] else partition_of(table, key)] -= 1
            if is_dead[i]:
                lines.append(self._dead(dead_kind[i], ts[i]))
                parts.append(dead_part[i])
                continue
            cols = pd_(i) if is_dept[i] else pe(i)
            alive = self.alive.get((table, key))
            if not alive:  # first sight, or resurrecting a deleted key
                op = "I"
                full = alive is None or op_draw[i] < 0.5
            else:
                op = "D" if op_draw[i] < 0.07 else "U"
                full = False
            if op == "D":
                cols = []
            elif not full:  # partial update: a random non-empty subset
                m = must[i] % len(cols)
                cols = [c for j, c in enumerate(cols) if keep[i][j] or j == m]
            lines.append(self._line(table, key, op, ts[i], cols))
            parts.append(partition_of(table, key))
        return lines, parts


def write_partitioned(log_dir: str, lines: list[str], parts: list[int]) -> None:
    """Append lines to the kafka-shaped log, one file per partition; each
    partition's lines go out in a single write, so a reader never counts a
    half-written record."""

    by_part: list[list[str]] = [[] for _ in range(N_PARTITIONS)]
    for line, p in zip(lines, parts):
        by_part[p].append(line)
    for p, chunk in enumerate(by_part):
        if not chunk:
            continue
        d = os.path.join(log_dir, f"partition={p}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "data.jsonl"), "a", encoding="utf-8") as fh:
            fh.write("\n".join(chunk) + "\n")


# ---------------------------------------------------------------------------
# index_epochs inputs
# ---------------------------------------------------------------------------
class EpochPlan:
    """Seeded schedule of index-maintenance epochs over a base corpus with
    ids ``0..n_items-1``.

    Epoch kinds alternate; which items each epoch touches comes from the
    seed.

    - ``fresh``: a 10% sample of the base corpus re-keyed past the id
      space (``offset``); text tokens are re-prefixed with ``e{epoch}x``
      (the st04 decorrelation recipe), so the gate accepts the docs and
      the indexes grow;
    - ``resent``: an earlier fresh epoch's docs again, text unchanged, under
      this epoch's ids, so the gate must flag each copy of an accepted doc;
      the same epoch deletes 5% of the live ids (``ids``).

    The caller reports which ids it actually indexed (``add_live``), since
    the gate decides that for documents.
    """

    KINDS = ("fresh", "resent")

    def __init__(self, seed: int, n_items: int, id_space: int):
        self.rng = np.random.default_rng(seed)
        self.n_items = n_items
        self.id_space = id_space
        self.live = set(range(n_items))
        self.history: list[dict] = []

    def add_live(self, ids) -> None:
        self.live.update(int(i) for i in ids)

    def next(self, epoch: int) -> dict:
        plan = self._next(epoch)
        self.history.append(plan)
        return plan

    def _next(self, epoch: int) -> dict:
        kind = self.KINDS[(epoch - 1) % len(self.KINDS)]
        if kind == "fresh":
            base = sorted(
                int(x) for x in self.rng.choice(self.n_items, self.n_items // 10, replace=False)
            )
            return {"kind": kind, "epoch": epoch, "base_ids": base,
                    "offset": epoch * self.id_space, "prefix": f"e{epoch}x"}
        fresh = [p for p in self.history if p["kind"] == "fresh"]
        src = fresh[int(self.rng.integers(0, len(fresh)))]
        live = sorted(self.live)
        ids = sorted(
            int(x) for x in self.rng.choice(live, max(1, len(live) // 20), replace=False)
        )
        self.live.difference_update(ids)
        return {"kind": kind, "epoch": epoch, "base_ids": src["base_ids"],
                "offset": epoch * self.id_space, "prefix": src["prefix"],
                "source_offset": src["offset"], "ids": ids}
