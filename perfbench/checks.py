"""Output checks, computed independently in DuckDB.

- ETL: each warehouse table's row count and order-insensitive content digest
  is recomputed from the generated raw-zone CSV with the entity's cleaning
  and enrichment rules written as SQL, and the partitioned transaction
  target's per-partition row counts are recomputed the same way.
- Queries: a key's collected result is compared with its ``QuerySpec.oracle``
  run by DuckDB over the same parquet tables, as an order-insensitive
  multiset of normalized rows over name-sorted columns (exact compare:
  floats by ``repr``).

Every check returns ``None`` when the output is right and a one-line reason
when it is not.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from collections import Counter

import duckdb

from datagen import AS_OF

# ---------------------------------------------------------------------------
# ETL
# ---------------------------------------------------------------------------


def _csv(path: str) -> str:
    return f"read_csv('{path}', header=true, all_varchar=true)"


def _customers_sql(path: str) -> str:
    bands = " ".join(
        f"WHEN credit_score >= {lo} AND credit_score < {hi} THEN '{name}'"
        for lo, hi, name in [(300, 580, "Poor"), (580, 670, "Fair"),
                             (670, 740, "Good"), (740, 800, "Very Good"),
                             (800, 851, "Excellent")])
    return f"""
    SELECT customer_id, first_name, last_name, date_of_birth,
           lower(trim(email)) AS email, phone_number, address, city,
           upper(trim(state)) AS state, zip_code, country, customer_since,
           credit_score,
           upper(left(risk_segment, 1)) || lower(substr(risk_segment, 2))
               AS risk_segment,
           date_sub('year', date_of_birth, DATE '{AS_OF}') AS age,
           date_sub('year', customer_since, DATE '{AS_OF}') AS tenure_years,
           CASE {bands} ELSE 'Unknown' END AS credit_score_band
    FROM (SELECT * REPLACE (CAST(date_of_birth AS DATE) AS date_of_birth,
                            CAST(customer_since AS DATE) AS customer_since,
                            CAST(credit_score AS INTEGER) AS credit_score)
          FROM {_csv(path)})
    WHERE customer_id IS NOT NULL"""


def _accounts_sql(path: str) -> str:
    return f"""
    SELECT account_id, customer_id, account_type, account_status, open_date,
           CASE WHEN account_status = 'closed' THEN close_date END
               AS close_date,
           currency, branch_id, interest_rate, balance, last_activity_date,
           date_diff('day', open_date, DATE '{AS_OF}') AS account_age_days,
           date_diff('day', last_activity_date, DATE '{AS_OF}')
               AS days_since_activity,
           account_status = 'active' AS is_active,
           CASE WHEN account_status <> 'active' THEN account_status
                WHEN date_diff('day', last_activity_date, DATE '{AS_OF}') >= 90
                    THEN 'dormant'
                ELSE 'active' END AS lifecycle_stage
    FROM (SELECT * REPLACE (lower(trim(account_type)) AS account_type,
                            lower(trim(account_status)) AS account_status,
                            upper(trim(currency)) AS currency,
                            CAST(open_date AS DATE) AS open_date,
                            CAST(close_date AS DATE) AS close_date,
                            CAST(last_activity_date AS DATE)
                                AS last_activity_date,
                            CAST(interest_rate AS DOUBLE) AS interest_rate,
                            CAST(balance AS DOUBLE) AS balance)
          FROM {_csv(path)})
    WHERE account_id IS NOT NULL AND customer_id IS NOT NULL"""


ENTITY_SQL = {"customer": (_customers_sql, "customer_id"),
              "account": (_accounts_sql, "account_id")}


def _digest(con, relation: str, columns: list[str]) -> tuple[int, int]:
    """(row count, order-insensitive content hash) of a relation."""
    cells = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '<null>')"
                      for c in sorted(columns))
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash(concat_ws('|', {cells}))"
        f"::HUGEINT) % 18446744073709551557, 0) FROM ({relation})").fetchone()
    return int(n), int(h)


def check_warehouse_table(entity: str, table_dir: str, base_csv: str,
                          day_csv: str | None) -> str | None:
    """The upserted table must equal transform(day) ∪ (transform(base) rows
    whose key the day's extract left out)."""
    build, key = ENTITY_SQL[entity]
    con = duckdb.connect()
    observed = f"SELECT * FROM read_parquet('{table_dir}/*.parquet')"
    columns = [r[0] for r in con.execute(f"DESCRIBE {observed}").fetchall()]
    expected = build(base_csv)
    if day_csv is not None:
        day = build(day_csv)
        expected = (f"{day} UNION ALL SELECT * FROM ({expected}) b "
                    f"WHERE b.{key} NOT IN (SELECT {key} FROM ({day}))")
    exp_cols = [r[0] for r in con.execute(f"DESCRIBE {expected}").fetchall()]
    if sorted(columns) != sorted(exp_cols):
        return f"{entity}: columns {sorted(columns)} != {sorted(exp_cols)}"
    got, want = _digest(con, observed, columns), _digest(con, expected, columns)
    if got != want:
        return f"{entity}: (rows, digest) {got} != expected {want}"
    return None


def _clean_transactions_sql(path: str) -> str:
    return f"""
    SELECT year(ts) AS y, month(ts) AS m
    FROM (SELECT strptime(transaction_date, '%Y-%m-%d %H:%M:%S') AS ts,
                 lower(transaction_type) AS t, CAST(amount AS DOUBLE) AS amount
          FROM {_csv(path)})
    WHERE NOT (t = 'deposit' AND amount < 0)"""


def check_partitioned_target(target_dir: str, csvs: list[str]) -> str | None:
    """Per-(year, month) row counts of the append target must equal the
    cleaned row counts of every transaction file loaded into it."""
    con = duckdb.connect()
    union = " UNION ALL ".join(_clean_transactions_sql(p) for p in csvs)
    want = dict(((y, m), n) for y, m, n in con.execute(
        f"SELECT y, m, count(*) FROM ({union}) GROUP BY ALL").fetchall())
    got = dict(((int(y), int(m)), n) for y, m, n in con.execute(
        "SELECT transaction_year, transaction_month, count(*) FROM "
        f"read_parquet('{target_dir}/*/*/*.parquet', hive_partitioning=true) "
        "GROUP BY ALL").fetchall())
    if got != want:
        return f"transaction partitions {sorted(got.items())} != {sorted(want.items())}"
    return None


def drop_one_row(table_dir: str) -> None:
    """Corrupt a warehouse table by rewriting it without one row (used by
    the benchmark's self-test to prove the check fires)."""
    con = duckdb.connect()
    files = [f for f in os.listdir(table_dir) if f.endswith(".parquet")]
    out = os.path.join(table_dir, "part-corrupted.parquet.tmp")
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{table_dir}/*.parquet') "
        f"OFFSET 1) TO '{out}' (FORMAT parquet)")
    for f in files:
        os.remove(os.path.join(table_dir, f))
    os.rename(out, out[:-4])


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dt.timedelta):
        return f"td:{v.total_seconds()}"
    return str(v)


def _multiset(rows: list[dict]) -> Counter:
    return Counter(tuple(_norm(r[c]) for c in sorted(r)) for r in rows)


class QueryOracle:
    def __init__(self, tables_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")

    def check(self, key: str, spark_rows: list[dict], columns: list[str],
              oracle_sql: str | None) -> str | None:
        if oracle_sql is None:
            return None if spark_rows else f"{key}: empty result"
        cur = self.con.execute(oracle_sql)
        cols = [d[0] for d in cur.description]
        duck_rows = [dict(zip(cols, row)) for row in cur.fetchall()]
        if sorted(columns) != sorted(cols):
            return f"{key}: columns {sorted(columns)} != oracle {sorted(cols)}"
        if len(spark_rows) != len(duck_rows):
            return f"{key}: {len(spark_rows)} rows != oracle {len(duck_rows)}"
        ms, md = _multiset(spark_rows), _multiset(duck_rows)
        if ms != md:
            return (f"{key}: values differ, spark-only "
                    f"{list((ms - md).keys())[:2]} oracle-only "
                    f"{list((md - ms).keys())[:2]}")
        return None
