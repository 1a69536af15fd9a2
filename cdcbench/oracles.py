"""Output checks. Each compares what the engine produced with a reference
computed independently of the engine, and returns a list of problems
(empty means the output is correct). ``tests/test_oracles.py`` shows each
check failing on a deliberately corrupted output.
"""

from __future__ import annotations

import glob
import os

import duckdb

# typed payload columns per target table, DuckDB types (the catalog's)
CDC_COLUMNS = {
    "emp": {
        "name": "VARCHAR",
        "salary": "DOUBLE",
        "dept_id": "INTEGER",
        "active": "BOOLEAN",
        "hire_ts": "TIMESTAMP",
    },
    "dept": {"dname": "VARCHAR", "budget": "FLOAT"},
}


def _valid_cte(files: list[str]) -> str:
    # one JSON document per line, parsed line by line: a malformed line is
    # dropped on its own and never swallows the line after it
    flist = ", ".join(f"'{f}'" for f in files)
    envelope = (
        '{"table":"VARCHAR","op_type":"VARCHAR","current_ts":"VARCHAR",'
        '"pos":"BIGINT","after":"MAP(VARCHAR,VARCHAR)"}'
    )
    return f"""
    lines AS (
        SELECT line FROM read_csv([{flist}], columns={{'line': 'VARCHAR'}},
            delim=chr(1), quote='', escape='', header=false, auto_detect=false)
    ),
    raw AS (
        SELECT j.* FROM (
            SELECT CASE WHEN json_valid(line)
                        THEN json_transform(line, '{envelope}') END AS j
            FROM lines)
        WHERE j IS NOT NULL
    ),
    valid AS (
        SELECT lower(string_split("table", '.')[2]) AS tab_name,
               after['ID'][1] AS id, op_type, current_ts,
               current_ts || '#' || lpad(CAST(pos AS VARCHAR), 20, '0') AS ord,
               after
        FROM raw
        WHERE "table" IS NOT NULL
          AND len(string_split("table", '.')) >= 2
          AND after IS NOT NULL
          AND after['ID'][1] IS NOT NULL
    )"""


def _expected_sql() -> dict[str, str]:
    """Last-write-wins fold of the valid records (table ``changes``) per
    output table, ordered by (current_ts, pos) (fixed-width timestamps, so
    the string key orders chronologically); ``time_stamp`` (processing
    time) is left out."""
    out = {}
    for table, cols in CDC_COLUMNS.items():
        col_sql = ",\n".join(
            f"TRY_CAST(arg_max(after['{c.upper()}'][1], ord)"
            f" FILTER (WHERE op_type <> 'D' AND after['{c.upper()}'][1] IS NOT NULL)"
            f" AS {t}) AS {c}"
            for c, t in cols.items()
        )
        out[table] = f"""
            SELECT id, {col_sql},
                   CASE WHEN arg_max(op_type, ord) = 'D'
                        THEN '1' ELSE '0' END AS delete_state
            FROM changes WHERE tab_name = '{table}' GROUP BY id"""
    out["pub_event"] = """
        SELECT id, tab_name AS name,
               max(replace(current_ts, 'T', ' ')) AS current_ts,
               '0' AS delete_state, '0' AS his_delete_state
        FROM changes GROUP BY id, tab_name"""
    return out


OUTPUT_COLUMNS = {
    "emp": ["id", *CDC_COLUMNS["emp"], "delete_state"],
    "dept": ["id", *CDC_COLUMNS["dept"], "delete_state"],
    "pub_event": ["id", "name", "current_ts", "delete_state", "his_delete_state"],
}


def log_files(log_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(log_dir, "partition=*", "data.jsonl")))


def check_cdc(
    warehouse: str, files: list[str], dead_reported: int, dead_generated: int
) -> list[str]:
    """The store's final tables (the bucketed parquet the engine wrote)
    equal the fold of every produced line, row for row and value for
    value, and the engine's dead-letter total equals the number generated."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    problems = []
    con.execute(f"CREATE TEMP TABLE changes AS WITH {_valid_cte(files)} FROM valid")
    for table, sql in _expected_sql().items():
        cols = ", ".join(OUTPUT_COLUMNS[table])
        path = os.path.join(warehouse, table, "_bucket=*", "*.parquet")
        if not glob.glob(path):
            problems.append(f"{table}: no store files")
            continue
        con.execute(f"CREATE OR REPLACE TEMP TABLE e AS SELECT {cols} FROM ({sql})")
        con.execute(
            f"CREATE OR REPLACE TEMP TABLE a AS SELECT {cols} "
            f"FROM read_parquet('{path}', hive_partitioning=false)"
        )
        extra = con.execute("SELECT * FROM (FROM a EXCEPT ALL FROM e) LIMIT 2").fetchall()
        missing = con.execute("SELECT * FROM (FROM e EXCEPT ALL FROM a) LIMIT 2").fetchall()
        if extra or missing:
            n_a, n_e = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in "ae")
            problems.append(
                f"{table}: {n_a} rows vs {n_e} expected; e.g. unexpected {extra[:1]}"
                f" / missing {missing[:1]}"
            )
    con.close()
    if dead_reported != dead_generated:
        problems.append(f"dead letters: engine {dead_reported} != generated {dead_generated}")
    return problems


def check_lookups(results: list[tuple[list[str], list[str]]]) -> list[str]:
    """Each point lookup asked for keys already committed and keys never
    written; it must return each committed key exactly once and nothing
    else. ``results``: (returned keys, committed keys asked), both sorted."""
    bad = [(got, must) for got, must in results if got != must]
    if bad:
        got, must = bad[0]
        return [f"{len(bad)} of {len(results)} lookups wrong, e.g. returned {got} for {must}"]
    return []


def check_query(name: str, rows: list[tuple], cols: list[str], sf_dir: str) -> list[str]:
    """A query's rows equal its DuckDB oracle at ``sf_dir``."""
    from kafkatosparktokudu_spark.plans.oracle import ORACLE_SQL
    from tests.oracle_harness import canonical, run_oracle

    orows, ocols = run_oracle(ORACLE_SQL[name], sf_dir)
    if sorted(cols) != sorted(ocols):
        return [f"{name}: columns {sorted(cols)} != {sorted(ocols)}"]
    if canonical(rows, cols) != canonical(orows, ocols):
        return [f"{name}: {len(rows)} rows differ from the oracle's {len(orows)}"]
    return []


def check_ranked(name: str, got: list[tuple], want: list[tuple]) -> list[str]:
    """Two ranked result lists are equal row for row."""
    if got != want:
        diffs = [(g, w) for g, w in zip(got, want) if g != w][:2]
        return [f"{name}: {len(got)} rows vs {len(want)} expected, first diffs {diffs}"]
    return []


def check_resent_flagged(flags: dict[int, bool], resent: dict[int, int], accepted: set[int]) -> list[str]:
    """Every re-sent copy (id → source id) of an accepted doc is flagged as
    a duplicate. ``flags``: doc id → is_dup for the re-sent epochs."""
    missed = [c for c, src in resent.items() if src in accepted and not flags.get(c, False)]
    if missed:
        return [f"gate accepted {len(missed)} re-sent copies of accepted docs, e.g. {missed[:3]}"]
    return []
