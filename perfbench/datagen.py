"""Seeded input generators for the benchmark.

Two input sets, both a pure function of (seed, size):

- ``query_tables``: the ten catalog tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) as one parquet file each, in
  the layout ``banking_etl_pipeline_spark.catalog.table`` reads. Column
  names, types and value domains follow the engine's test tables.
- ``banking_raw``: raw-zone CSV for the three pipeline entities: a base
  customer/account snapshot and transaction file (the initial warehouse
  load) plus one changed snapshot and one transaction file per day. Raw-zone
  conventions match what the domain transforms clean up: mixed-case
  ``transaction_type``, untrimmed mixed-case enums, null
  ``merchant_name``/``description`` and string dates.

Outputs are cached under ``<work>/data/<name>-<seed>-<size>`` behind a
``_DONE`` marker, so only the first run with a given seed pays for them.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

ROW_GROUP_ROWS = 16384


def _cached(root: str, name: str, build) -> str:
    path = os.path.join(root, name)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def _days(start: dt.date, offsets: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "D") + offsets.astype("timedelta64[D]")


def _write(path: str, columns: dict[str, object]) -> None:
    pq.write_table(pa.table(columns), path, row_group_size=ROW_GROUP_ROWS)


# ---------------------------------------------------------------------------
# Query tables
# ---------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EMBED_DIM = 64


def _query_tables(out: str, seed: int, sf: float) -> None:
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    n_docs = int(50_000 * sf)

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN], dtype=object)
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)],
                            dtype=object)[rng.integers(0, 25, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    order_day = rng.integers(0, 2399, n_ord)
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": pa.array(_days(dt.date(1995, 1, 1), order_day)
                                .astype("datetime64[us]")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    # line numbers restart at 1 within each order
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n_line]))
    qty = rng.integers(1, 51, n_line).astype(float)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_line) - run_start + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, n_line, 900.0, 2100.0), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(_days(dt.date(1995, 1, 2),
                                     rng.integers(0, 2499, n_line))
                               .astype("datetime64[us]")),
    })
    start_us = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_evt))
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(start_us + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": _money(rng, n_evt, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    vocab = np.array(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 100, n_docs)]
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n_docs),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_docs, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
    })


def query_tables(root: str, seed: int, sf: float) -> str:
    return _cached(root, f"tables-{seed}-sf{sf:g}",
                   lambda out: _query_tables(out, seed, sf))


# ---------------------------------------------------------------------------
# Banking raw zone
# ---------------------------------------------------------------------------

AS_OF = dt.date(2025, 6, 29)
FIRST = ["James", "Mary", "John", "Patricia", "Robert", "Jennifer",
         "Michael", "Linda", "William", "Elizabeth"]
LAST = ["Smith", "Johnson", "Williams", "Jones", "Brown", "Davis",
        "Miller", "Wilson", "Moore", "Taylor"]
STATES = ["CA", "ny", "TX ", "fl", "IL", "PA", "oh", "GA", "NC", "MI"]
CITIES = ["Los Angeles", "New York", "Houston", "Miami", "Chicago",
          "Philadelphia", "Columbus", "Atlanta", "Charlotte", "Detroit"]
RISK = ["low", "Low", "MEDIUM", "Medium", "high", "High"]
ACCOUNT_TYPES = ["checking", "Checking", " savings", "SAVINGS", "investment"]
ACCOUNT_STATUSES = ["active", "active", "Active", "closed", "suspended "]
CURRENCIES = ["USD", "usd", "EUR", "GBP"]
TXN_TYPES = ["deposit", "DEPOSIT", "Deposit", "withdrawal", "WITHDRAWAL",
             "Withdrawal", "transfer", "Transfer", "payment", "PAYMENT",
             "Payment"]
TXN_CCY = ["USD", "EUR", "GBP"]
MERCHANT_CATEGORIES = ["grocery", "supermarket", "restaurant", "fast food",
                       "gas", "utility", "retail", "travel", "entertainment"]
TXN_STATUSES = ["completed", "pending", "failed", "reversed"]
CHANNELS = ["online", "mobile", "branch", "atm"]
LOCATIONS = ["USA", "Canada", "United Kingdom", "France", "Germany",
             "Japan", "Australia", "Brazil", "Mexico", "China"]

CUSTOMER_COLUMNS = ["customer_id", "first_name", "last_name", "date_of_birth",
                    "email", "phone_number", "address", "city", "state",
                    "zip_code", "country", "customer_since", "credit_score",
                    "risk_segment"]
ACCOUNT_COLUMNS = ["account_id", "customer_id", "account_type",
                   "account_status", "open_date", "close_date", "currency",
                   "branch_id", "interest_rate", "balance",
                   "last_activity_date"]


def _date_str(days_ago: np.ndarray) -> np.ndarray:
    return _days(AS_OF, -days_ago).astype(str).astype(object)


def _customer_rows(rng: np.random.Generator, ids: np.ndarray) -> dict:
    n = len(ids)
    first = _pick(rng, FIRST, n)
    last = _pick(rng, LAST, n)
    email = [f" {f}.{lname}{i}@Example.com" if i % 7 == 0
             else f"{f}.{lname}{i}@example.com"
             for f, lname, i in zip(first, last, ids)]
    return {
        "customer_id": [f"CUST{i:07d}" for i in ids],
        "first_name": first,
        "last_name": last,
        "date_of_birth": _date_str(rng.integers(21 * 365, 80 * 365, n)),
        "email": email,
        "phone_number": [f"555-{a:03d}-{b:04d}" for a, b in
                         zip(rng.integers(100, 1000, n),
                             rng.integers(1000, 10000, n))],
        "address": [f"{a} Main St" for a in rng.integers(100, 10000, n)],
        "city": _pick(rng, CITIES, n),
        "state": _pick(rng, STATES, n),
        "zip_code": [f"Z{z:05d}" for z in rng.integers(10000, 100000, n)],
        "country": ["USA"] * n,
        "customer_since": _date_str(rng.integers(0, 10 * 365, n)),
        "credit_score": rng.integers(300, 851, n),
        "risk_segment": _pick(rng, RISK, n),
    }


def _account_rows(rng: np.random.Generator, ids: np.ndarray,
                  n_customers: int) -> dict:
    n = len(ids)
    status = _pick(rng, ACCOUNT_STATUSES, n)
    close = _date_str(rng.integers(0, 365, n))
    close = np.where([s.strip().lower() == "closed" for s in status], close, None)
    return {
        "account_id": [f"ACC{i:08d}" for i in ids],
        "customer_id": [f"CUST{c:07d}" for c in rng.integers(0, n_customers, n)],
        "account_type": _pick(rng, ACCOUNT_TYPES, n),
        "account_status": status,
        "open_date": _date_str(rng.integers(0, 5 * 365, n)),
        "close_date": close,
        "currency": _pick(rng, CURRENCIES, n),
        "branch_id": [f"BR{b:03d}" for b in rng.integers(100, 1000, n)],
        "interest_rate": np.round(rng.integers(1, 500_000, n) / 100_000.0, 5),
        "balance": _money(rng, n, 0.0, 100_000.0),
        "last_activity_date": _date_str(rng.integers(0, 200, n)),
    }


def _transaction_rows(rng: np.random.Generator, n: int, n_accounts: int,
                      day: int) -> dict:
    epoch = np.datetime64(dt.datetime.combine(AS_OF, dt.time(12)), "s")
    secs = rng.integers(0, 120 * 86_400, n)
    when = (epoch - secs.astype("timedelta64[s]")).astype(str)
    types = _pick(rng, TXN_TYPES, n)
    amount = _money(rng, n, 10.0, 5000.0)
    # ~1% negative deposits: dropped by clean_transactions
    neg = (rng.random(n) < 0.01) & np.array(
        [t.lower() == "deposit" for t in types])
    amount = np.where(neg, -amount, amount)
    location = _pick(rng, LOCATIONS, n)
    return {
        "transaction_id": [f"TXN-{day:03d}-{i:09d}" for i in range(n)],
        "account_id": [f"ACC{a:08d}" for a in rng.integers(0, n_accounts, n)],
        "transaction_date": np.char.replace(when, "T", " ").astype(object),
        "transaction_type": types,
        "amount": amount,
        "currency": _pick(rng, TXN_CCY, n),
        "description": np.where(rng.random(n) < 0.05, None,
                                [f"purchase {i}" for i in range(n)]),
        "merchant_name": np.where(rng.random(n) < 0.05, None,
                                  [f"Merchant {m:03d}" for m in
                                   rng.integers(0, 500, n)]),
        "merchant_category": _pick(rng, MERCHANT_CATEGORIES, n),
        "transaction_status": _pick(rng, TXN_STATUSES, n),
        "channel": _pick(rng, CHANNELS, n),
        "location": location,
        "is_international": location != "USA",
    }


def _write_csv(path: str, columns: dict) -> None:
    table = pa.table({k: pa.array(list(v) if isinstance(v, np.ndarray)
                                  and v.dtype == object else v)
                      for k, v in columns.items()})
    opts = pacsv.WriteOptions(include_header=True, quoting_style="needed")
    pacsv.write_csv(table, path, opts)


def _changed_snapshot(rng: np.random.Generator, base: dict, fresh: dict,
                      change: float, drop: float, new: dict) -> dict:
    """Base snapshot with a seeded share of rows replaced by freshly drawn
    values (same keys), a share left out of the extract (they must survive
    the upsert from the warehouse), and new keys appended."""
    n = len(base[next(iter(base))])
    changed = rng.random(n) < change
    kept = rng.random(n) >= drop
    out = {}
    for col, values in base.items():
        values = np.asarray(values, dtype=object)
        if col not in ("customer_id", "account_id"):
            values = np.where(changed, np.asarray(fresh[col], dtype=object),
                              values)
        out[col] = np.concatenate([values[kept],
                                   np.asarray(new[col], dtype=object)])
    return out


def _banking_raw(out: str, seed: int, n_customers: int, n_accounts: int,
                 n_transactions: int, n_days: int) -> None:
    rng = np.random.default_rng([seed, 2])
    cust_ids = np.arange(n_customers)
    acct_ids = np.arange(n_accounts)
    customers = _customer_rows(rng, cust_ids)
    accounts = _account_rows(rng, acct_ids, n_customers)
    base = os.path.join(out, "base")
    os.makedirs(base)
    _write_csv(f"{base}/customers.csv", customers)
    _write_csv(f"{base}/accounts.csv", accounts)
    # the base transaction file only seeds the append target
    _write_csv(f"{base}/transactions.csv",
               _transaction_rows(rng, n_transactions // 10, n_accounts, 0))
    n_new_c = max(n_customers // 100, 1)
    n_new_a = max(n_accounts // 100, 1)
    for day in range(1, n_days + 1):
        d = os.path.join(out, f"day{day}")
        os.makedirs(d)
        new_c = np.arange(n_customers + (day - 1) * n_new_c,
                          n_customers + day * n_new_c)
        new_a = np.arange(n_accounts + (day - 1) * n_new_a,
                          n_accounts + day * n_new_a)
        _write_csv(f"{d}/customers.csv", _changed_snapshot(
            rng, customers, _customer_rows(rng, cust_ids), 0.05, 0.02,
            _customer_rows(rng, new_c)))
        _write_csv(f"{d}/accounts.csv", _changed_snapshot(
            rng, accounts, _account_rows(rng, acct_ids, n_customers), 0.05,
            0.02, _account_rows(rng, new_a, n_customers)))
        _write_csv(f"{d}/transactions.csv",
                   _transaction_rows(rng, n_transactions, n_accounts, day))


def banking_raw(root: str, seed: int, n_customers: int, n_accounts: int,
                n_transactions: int, n_days: int) -> str:
    name = f"banking-{seed}-{n_customers}-{n_accounts}-{n_transactions}-{n_days}"
    return _cached(root, name, lambda out: _banking_raw(
        out, seed, n_customers, n_accounts, n_transactions, n_days))
