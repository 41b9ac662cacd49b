"""DuckDB correctness oracle for the perfbench workloads.

ingest_serve: the final table must equal keep-last per ``_id`` of the
transformed landing rows, recomputed here from the landing files in commit
order (a SQL mirror of ``Pipeline.transform``: lenient casts, percentage
repair, null handling, keep-last by ``_id`` then by ``DATETIME``). The rollup
must equal an hourly group-by of the final table.

curation_batch: each stage's result must match the engine's own oracle SQL
(``SparkEntry.oracleSql`` for q73, q176, q143) run over the generated corpus,
as judged by the repository's checker ``tools/check.py`` itself (type-strict:
same column names, same arrow type class per column, same rows with exact
values).

``check`` returns one message per mismatch; an empty list means correct.
"""
import json
import os
import subprocess
import sys

import duckdb

from gen import FUELS, DERIVED, PERCS

TOLERANCE = 1.0  # Quality.DefaultTolerance
MEASURES = FUELS + DERIVED + PERCS


def _q(c):
    return '"' + c + '"'


def transform_sql(files):
    """The transformed, keep-last rows of `files`, in commit order."""
    union = " UNION ALL ".join(
        f"SELECT {i} AS b, * FROM read_parquet('{f}')" for i, f in enumerate(files))
    typed = ", ".join([f"TRY_CAST({_q(c)} AS DOUBLE) AS {_q(c)}" for c in MEASURES])

    def repaired(c):
        if not c.endswith("_perc") or c[:-5] not in FUELS:
            return _q(c)
        f, g, p = _q(c[:-5]), '"GENERATION"', _q(c)
        calc = (f"(CASE WHEN {g} = 0 THEN (CASE WHEN {f} > 0 THEN 'infinity'::DOUBLE "
                f"WHEN {f} < 0 THEN '-infinity'::DOUBLE WHEN {f} = 0 THEN 'nan'::DOUBLE END) "
                f"ELSE {f} / {g} * 100.0::DOUBLE END)")
        return (f"CASE WHEN isnan({calc}) THEN {p} WHEN abs({calc} - {p}) > {TOLERANCE} "
                f"THEN {calc} ELSE {p} END AS {p}")

    filled = ", ".join(f"COALESCE({_q(c)}, 0.0::DOUBLE) AS {_q(c)}" for c in MEASURES)
    return f"""
      WITH landing AS ({union}),
      typed AS (SELECT b, TRY_CAST("_id" AS BIGINT) AS "_id",
                  try_strptime("DATETIME", '%Y-%m-%dT%H:%M:%S') AS "DATETIME", {typed}
                FROM landing),
      rep AS (SELECT b, "_id", "DATETIME", {", ".join(repaired(c) for c in MEASURES)} FROM typed),
      filled AS (SELECT b, "_id", "DATETIME", {filled} FROM rep
                 WHERE "_id" IS NOT NULL AND "DATETIME" IS NOT NULL),
      d1 AS (SELECT * FROM filled
             QUALIFY row_number() OVER (PARTITION BY b, "_id" ORDER BY "DATETIME" DESC) = 1),
      d2 AS (SELECT * FROM d1
             QUALIFY row_number() OVER (PARTITION BY b, "DATETIME" ORDER BY "_id" DESC) = 1)
      SELECT * EXCLUDE (b) FROM d2
      QUALIFY row_number() OVER (PARTITION BY "_id" ORDER BY b DESC) = 1"""


def _diff(con, a, b):
    """Rows of a not in b plus rows of b not in a (multiset)."""
    return con.execute(
        f"SELECT count(*) FROM ((SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}) "
        f"UNION ALL (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))").fetchone()[0]


def check_ingest(work):
    con = duckdb.connect()
    with open(f"{work}/out/check/committed.json") as f:
        files = [f"{work}/in/{c}" for c in json.load(f)]
    cols = ", ".join(['"_id"', 'epoch_us("DATETIME") AS ts'] + [_q(c) for c in MEASURES])
    con.execute(f"CREATE TABLE expect AS SELECT {cols} FROM ({transform_sql(files)})")
    con.execute(f"CREATE TABLE actual AS SELECT {cols} FROM "
                f"read_parquet('{work}/out/check/table/*.parquet')")
    out = []
    n = _diff(con, "expect", "actual")
    if n:
        out.append(f"final table differs from keep-last of the transformed landing rows "
                   f"in {n} rows (expected {con.execute('SELECT count(*) FROM expect').fetchone()[0]})")
    con.execute("""CREATE TABLE rollup_expect AS
      SELECT epoch_us(date_trunc('hour', make_timestamp(ts))) AS h, count(*) AS n_rows,
             CAST(sum(CAST("GENERATION" AS BIGINT)) AS BIGINT) AS sum_gen
      FROM actual GROUP BY 1""")
    con.execute(f"""CREATE TABLE rollup_actual AS
      SELECT epoch_us(bucket_h) AS h, n_rows, sum_gen
      FROM read_parquet('{work}/out/check/rollup/*.parquet')""")
    n = _diff(con, "rollup_expect", "rollup_actual")
    if n:
        out.append(f"rollup differs from an hourly group-by of the table in {n} rows")
    return out


def check_curation(work):
    """The repository's own oracle gate, tools/check.py, over the layout it
    reads: the corpus dir, and an out dir with oracle_sql.json plus one
    parquet dir per query. Each FAIL line is one failure."""
    res = subprocess.run(
        [sys.executable, os.path.join(os.getcwd(), "tools", "check.py"),
         f"{work}/in/corpus", f"{work}/out/check"],
        capture_output=True, text=True, env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1"))
    out = [line for line in res.stdout.splitlines() if line.startswith("FAIL")]
    if res.returncode != 0 and not out:
        out.append(f"tools/check.py exited with code {res.returncode}: "
                   f"{(res.stderr or res.stdout).strip()[-500:]}")
    return out


def check(workload, work):
    if workload == "ingest_serve":
        return check_ingest(work)
    if workload == "curation_batch":
        return check_curation(work)
    return []
