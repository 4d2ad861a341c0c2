"""Expected outputs computed by DuckDB from the generated inputs, and the
checks that compare a batch's output on disk against them.

Expected results are computed once per (workload, seed) and cached as
parquet / JSON next to the inputs. A check returns a list of problems;
an empty list means the output is correct.
"""

from __future__ import annotations

import csv
import json
import os

import duckdb

from gen import SCAN_THRESHOLD

CUBE_GRANULARITIES = ("week", "month", "quarter", "year")

_DIM_FILES = {
    "dim_risk": "data/risk.csv",
    "dim_country": "data/country.csv",
    "dim_asn": "data/asn.csv",
}
_DIM_TYPES = {
    "dim_risk": "{'id': 'BIGINT', 'slug': 'VARCHAR', 'title': 'VARCHAR', "
    "'amplification_factor': 'DOUBLE', 'description': 'VARCHAR'}",
    "dim_country": "{'id': 'VARCHAR', 'name': 'VARCHAR', 'slug': 'VARCHAR', "
    "'region': 'VARCHAR', 'continent': 'VARCHAR'}",
    "dim_asn": "{'number': 'BIGINT', 'title': 'VARCHAR', 'country': 'VARCHAR'}",
}


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    return con


def _load_dims(con, in_dir: str) -> None:
    for name, rel in _DIM_FILES.items():
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_csv("
            f"'{in_dir}/{rel}', header=true, quote='\"', escape='\"', "
            f"columns={_DIM_TYPES[name]})"
        )


# --- scanlog_nightly: count.csv ------------------------------------------------

def _scanlog_count_sql(in_dir: str) -> str:
    # every generated timestamp carries a +00 offset, so its UTC day is
    # its first ten characters
    return f"""
    WITH raw AS (
      SELECT * FROM read_csv('{in_dir}/feeds/*.csv.gz', header=true,
        all_varchar=true, names=['ts', 'ip', 'risk', 'asn', 'country'])),
    obs AS (
      SELECT DISTINCT CAST(substr(ts, 1, 10) AS DATE) AS date, ip,
             TRY_CAST(risk AS INTEGER) AS risk,
             TRY_CAST(asn AS BIGINT) AS asn, country
      FROM raw),
    grouped AS (
      SELECT date, risk, country, asn, count(*) AS count
      FROM obs GROUP BY date, asn, risk, country
      HAVING count(*) > {SCAN_THRESHOLD})
    SELECT strftime(g.date, '%Y-%m-%d %H:%M:%S') AS date, g.risk, g.country,
           g.asn, g.count,
           COALESCE(g.count * r.amplification_factor, 0.0) AS count_amplified
    FROM grouped g LEFT JOIN dim_risk r ON g.risk = r.id
    ORDER BY g.date DESC NULLS LAST, g.country ASC NULLS FIRST,
             g.asn ASC NULLS FIRST, g.risk ASC NULLS FIRST
    """


def _parse_count_row(row: list[str]) -> tuple:
    def opt(v, f):
        return None if v == "" else f(v)

    date, risk, country, asn, count, amp = row
    return (opt(date, str), opt(risk, int), opt(country, str), opt(asn, int),
            int(count), float(amp))


def read_count_csv(path: str) -> list[tuple]:
    with open(path, newline="") as f:
        return [_parse_count_row(r) for r in csv.reader(f)]


# --- the star schema (both star workloads) -------------------------------------

def _star_sqls() -> dict[str, str]:
    """Expected star tables over a ``fact`` view (date DATE) and the dims."""
    out = {}
    for g in CUBE_GRANULARITIES:
        out[f"agg_risk_country_{g}"] = f"""
        SELECT COALESCE(p, DATE '1970-01-01') AS date,
               CAST(COALESCE(risk, 100) AS INTEGER) AS risk,
               COALESCE(country, 'T') AS country,
               CAST(SUM(count) AS BIGINT) AS count,
               -- every amplified value is a multiple of 0.25 far below
               -- 2^51, so a double sum is exact in any order
               SUM(count_amplified) AS count_amplified
        FROM (SELECT CAST(date_trunc('{g}', date) AS DATE) AS p, risk,
                     country, count, count_amplified FROM fact)
        GROUP BY CUBE (p, country, risk)"""
    out["dim_country"] = """
        SELECT id, name, slug, region, continent FROM dim_country
        UNION ALL
        SELECT DISTINCT country, 'unknown', 'unknown', 'unknown', 'unknown'
        FROM fact WHERE country IS NOT NULL
          AND country NOT IN (SELECT id FROM dim_country)"""
    out["dim_asn"] = """
        SELECT number, title, country FROM dim_asn
        UNION ALL
        SELECT asn, 'unknown', COALESCE(MIN(country), 'XY')
        FROM fact WHERE asn IS NOT NULL
          AND asn NOT IN (SELECT number FROM dim_asn)
        GROUP BY asn"""
    out["dim_date"] = """
        SELECT DISTINCT date, CAST(month(date) AS INTEGER) AS month,
               CAST(year(date) AS INTEGER) AS year,
               CAST(quarter(date) AS INTEGER) AS quarter,
               CAST(weekofyear(date) AS INTEGER) AS week,
               CAST(date_trunc('week', date) AS DATE) AS week_start,
               CAST(date_trunc('week', date) AS DATE) + 6 AS week_end
        FROM fact"""
    out["fact_count"] = """
        SELECT date, risk, country, asn, count, count_amplified FROM fact"""
    return out


def _write_star_expected(con, exp_dir: str) -> None:
    for name, sql in _star_sqls().items():
        con.execute(f"COPY ({sql}) TO '{exp_dir}/{name}.parquet' (FORMAT parquet)")


def _published(name: str, star_dir: str) -> str:
    if name == "fact_count":
        return (f"read_parquet('{star_dir}/fact_count/*/*.parquet', "
                "hive_partitioning=true, hive_types={'date': DATE})")
    return f"read_parquet('{star_dir}/{name}/*.parquet')"


def _diff_count(con, expected: str, actual: str, cols: str) -> tuple[int, int]:
    """Rows in expected but not actual, and the reverse (multisets)."""
    missing = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM {expected} "
        f"EXCEPT ALL SELECT {cols} FROM {actual})").fetchone()[0]
    extra = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM {actual} "
        f"EXCEPT ALL SELECT {cols} FROM {expected})").fetchone()[0]
    return missing, extra


def check_star(exp_dir: str, star_dir: str) -> list[str]:
    con = connect()
    try:
        problems = []
        for name in _star_sqls():
            expected = f"read_parquet('{exp_dir}/{name}.parquet')"
            try:
                cols = ", ".join(
                    c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {expected}").fetchall()
                )
                missing, extra = _diff_count(con, expected, _published(name, star_dir), cols)
            except duckdb.Error as e:
                problems.append(f"{name}: {e}")
                continue
            if missing or extra:
                problems.append(f"{name}: {missing} rows missing, {extra} unexpected")
        return problems
    finally:
        con.close()


# --- corpus_prepare ----------------------------------------------------------

CORPUS_COLS = "doc_id, chunk_id, pack_group, seq_bin, n_tokens"


# CTEs of the corpus oracle that DuckDB would otherwise inline into every
# step of the recursive closure, recomputing them until memory runs out
_MATERIALIZE = ("keepq", "ver", "edges", "fz")


def _corpus_sql() -> str:
    """The engine's own ``corpus_prepare_e2e`` oracle SQL, with the CTEs in
    _MATERIALIZE evaluated once. Materialising changes no result."""
    from aggregator_spark.oracles_pipeline import PIPELINE_ORACLES

    sql = PIPELINE_ORACLES["corpus_prepare_e2e"]
    for cte in _MATERIALIZE:
        if sql.count(f"{cte} AS (") != 1:
            raise ValueError(f"corpus oracle no longer defines CTE {cte!r} once")
        sql = sql.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (")
    return sql


def check_corpus(exp_dir: str, out_dir: str) -> list[str]:
    con = connect()
    try:
        missing, extra = _diff_count(
            con, f"read_parquet('{exp_dir}/packed.parquet')",
            f"read_parquet('{out_dir}/*.parquet')", CORPUS_COLS,
        )
    except duckdb.Error as e:
        return [f"packed: {e}"]
    finally:
        con.close()
    return [f"packed: {missing} rows missing, {extra} unexpected"] if missing or extra else []


# --- per-workload entry points -----------------------------------------------

def build_expected(workload: str, in_dir: str, exp_dir: str) -> None:
    """Compute the expected outputs of ``workload`` over ``in_dir``."""
    os.makedirs(exp_dir, exist_ok=True)
    con = connect()
    try:
        if workload == "corpus_prepare":
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{in_dir}/documents.parquet'")
            con.execute(f"COPY ({_corpus_sql()}) TO '{exp_dir}/packed.parquet' (FORMAT parquet)")
            return
        _load_dims(con, in_dir)
        if workload == "scanlog_nightly":
            con.execute(f"CREATE TABLE counted AS {_scanlog_count_sql(in_dir)}")
            rows = con.execute("SELECT * FROM counted").fetchall()
            with open(f"{exp_dir}/count.json", "w") as f:
                json.dump([list(r) for r in rows], f)
            con.execute(
                "CREATE VIEW fact AS SELECT CAST(CAST(date AS TIMESTAMP) AS DATE) AS date, "
                "risk, country, asn, count, count_amplified FROM counted"
            )
        else:
            con.execute(
                f"CREATE VIEW fact AS SELECT * FROM '{in_dir}/fact_history/*.parquet'"
            )
        _write_star_expected(con, exp_dir)
    finally:
        con.close()


def check(workload: str, exp_dir: str, out_dir: str) -> list[str]:
    """Problems found in a batch output at ``out_dir`` (empty: correct)."""
    if workload == "corpus_prepare":
        return check_corpus(exp_dir, f"{out_dir}/packed")
    problems = []
    if workload == "scanlog_nightly":
        with open(f"{exp_dir}/count.json") as f:
            expected = [tuple(r) for r in json.load(f)]
        try:
            actual = read_count_csv(f"{out_dir}/count.csv")
        except (OSError, ValueError) as e:
            return [f"count.csv: {e}"]
        if actual != expected:
            bad = next((i for i, (a, b) in enumerate(zip(actual, expected)) if a != b),
                       min(len(actual), len(expected)))
            problems.append(
                f"count.csv: {len(actual)} rows vs {len(expected)} expected, "
                f"first difference at row {bad}"
            )
    return problems + check_star(exp_dir, f"{out_dir}/star")
