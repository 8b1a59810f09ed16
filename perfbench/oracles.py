"""Expected results, computed without the program under test.

- ``lake_analytics``: the catalog's DuckDB oracle SQL for the pinned
  queries, DuckDB marts written here over the same silver parquet, and
  for the exact near-duplicate query the corpus's exact Jaccard pair
  set, by a prefix-filtered all-pairs join in pure Python;
- ``cdc_ingest``: a Python latest-state model of every committed
  version, replaying the generator's own change log.

Results are compared with the repository's own check (``tests/oracle.py``).
"""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd

# the repository's own Spark-vs-DuckDB check: same canonical form, full
# float precision
from tests.oracle import compare_structured, duck_run  # noqa: F401

TXN_COLS = ["id", "account_id", "txn_type", "amount", "related_account_id",
            "status", "created_at"]


def strings_for_exact(df):
    """Decimal and date columns as strings, so they cross to pandas the
    same way DuckDB's ``CAST(... AS VARCHAR)`` does (DuckDB's pandas
    export turns DECIMAL into float64 and DATE into timestamps)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    return df.select(*[
        F.col(f.name).cast("string").alias(f.name)
        if isinstance(f.dataType, (T.DecimalType, T.DateType)) else F.col(f.name)
        for f in df.schema.fields])


# ---------------------------------------------------------------------------
# lake_analytics
# ---------------------------------------------------------------------------

# decimals and dates leave DuckDB as text (see ``strings_for_exact``)
MART_SQL = {
    "mart_daily_txn_volume": """
        SELECT CAST(CAST(t.created_at AS DATE) AS VARCHAR) AS txn_date, t.txn_type,
               a.currency, t.status, COUNT(*) AS n_txns,
               CAST(CAST(SUM(t.amount) AS DECIMAL(28,2)) AS VARCHAR) AS total_amount
        FROM transactions t JOIN accounts a ON t.account_id = a.id
        GROUP BY ALL""",
    "mart_customer_value": """
        WITH per_acct AS (
            SELECT account_id, COUNT(*) AS n, SUM(amount) AS vol
            FROM transactions GROUP BY account_id),
        per_cust AS (
            SELECT a.customer_id, COUNT(*) AS n_accounts,
                   CAST(SUM(a.balance) AS DECIMAL(28,2)) AS total_balance,
                   CAST(COALESCE(SUM(p.n), 0) AS BIGINT) AS n_txns,
                   CAST(COALESCE(SUM(p.vol), 0) AS DECIMAL(28,2)) AS txn_volume
            FROM accounts a LEFT JOIN per_acct p ON p.account_id = a.id
            GROUP BY a.customer_id)
        SELECT c.id AS customer_id, c.email, p.n_accounts,
               CAST(p.total_balance AS VARCHAR) AS total_balance,
               p.n_txns, CAST(p.txn_volume AS VARCHAR) AS txn_volume
        FROM customers c LEFT JOIN per_cust p ON p.customer_id = c.id""",
    # the latest running balance of an account is its whole signed sum
    "mart_account_running_balance": """
        SELECT account_id, MAX(created_at) AS as_of,
               CAST(CAST(SUM(CASE WHEN txn_type IN ('DEPOSIT', 'REFUND', 'INTEREST')
                                  THEN amount
                                  WHEN txn_type IN ('WITHDRAWAL', 'TRANSFER',
                                                    'PAYMENT', 'FEE')
                                  THEN -amount ELSE 0 END) AS DECIMAL(28,2))
                    AS VARCHAR) AS running_balance,
               COUNT(*) AS n_txns
        FROM transactions GROUP BY account_id""",
}


def silver_connection(silver_dir: str):
    """DuckDB (UTC) over the Spark-written silver tables.  Spark writes
    timestamps as instants, which DuckDB reads as TIMESTAMPTZ; the
    views cast them back to naive UTC as the Spark session sees them."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("customers", "accounts", "transactions"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * REPLACE (CAST(created_at AS TIMESTAMP) "
            f"AS created_at) FROM read_parquet('{silver_dir}/{t}/*.parquet')")
    return con


# ---------------------------------------------------------------------------
# cdc_ingest
# ---------------------------------------------------------------------------

_OP_RANK = {"c": 1, "u": 2, "d": 3}


def cdc_versions(log) -> dict[int, dict[int, tuple]]:
    """State of the table at every version: v1 is the seed commit,
    v(k+2) is change file k applied.  Per batch the newest ``ts_ms`` per
    key wins (same-``ts_ms`` ties: d > u > c), and the winner replaces
    whatever the table held; a winning delete removes the key."""
    state = {row[0]: row for row in log.seed_rows}
    out = {1: dict(state)}
    for k, changes in enumerate(log.files):
        win: dict[int, object] = {}
        for ch in changes:
            cur = win.get(ch.key)
            if cur is None or (ch.ts_ms, _OP_RANK[ch.op]) > (cur.ts_ms, _OP_RANK[cur.op]):
                win[ch.key] = ch
        for key, ch in win.items():
            if ch.op == "d":
                state.pop(key, None)
            else:
                state[key] = ch.after
        out[k + 2] = dict(state)
    return out


def txn_frame(rows) -> pd.DataFrame:
    """Model rows as the frame Spark's ``toPandas`` gives for them."""
    return pd.DataFrame(list(rows), columns=TXN_COLS)


def where_model(state: dict[int, tuple], lo: dt.datetime, hi: dt.datetime,
                status: str) -> list[tuple]:
    return [r for r in state.values()
            if lo <= r[6] < hi and r[5] == status]


# ---------------------------------------------------------------------------
# near-duplicate pairs
# ---------------------------------------------------------------------------

def shingle_sets(texts: list[str], n: int = 3) -> list[frozenset]:
    out = []
    for t in texts:
        toks = t.split()
        out.append(frozenset(" ".join(toks[i:i + n])
                             for i in range(len(toks) - n + 1)))
    return out


def shingle_df(sets: list[frozenset]) -> dict[str, int]:
    """Document frequency of every shingle."""
    df: dict[str, int] = {}
    for s in sets:
        for sh in s:
            df[sh] = df.get(sh, 0) + 1
    return df


def exact_pairs(sets: list[frozenset], threshold: float = 0.5) -> dict[tuple[int, int], float]:
    """Every pair (a < b) with Jaccard >= threshold.  Exact: two sets with
    J >= t must share a token inside each one's prefix of length
    |s| - ceil(t * |s|) + 1 under one global (rarest-first) order, so
    only prefix-sharing pairs are verified."""
    df = shingle_df(sets)
    index: dict[str, list[int]] = {}
    out: dict[tuple[int, int], float] = {}
    for b, s in enumerate(sets):
        if not s:
            continue
        ordered = sorted(s, key=lambda x: (df[x], x))
        plen = len(s) - math.ceil(threshold * len(s) - 1e-9) + 1
        cands: set[int] = set()
        for sh in ordered[:plen]:
            cands.update(index.get(sh, ()))
            index.setdefault(sh, []).append(b)
        for a in cands:
            sa = sets[a]
            if min(len(sa), len(s)) < threshold * max(len(sa), len(s)):
                continue
            inter = len(sa & s)
            j = inter / (len(sa) + len(s) - inter)
            if j >= threshold:
                out[(a, b)] = j
    return out


def pairs_frame(documents_parquet: str, threshold: float = 0.5) -> pd.DataFrame:
    """The exact pair set of a ``documents`` table, shaped as
    ``operators.dedup.ngram_jaccard_pairs`` returns it."""
    import pyarrow.parquet as pq

    t = pq.read_table(documents_parquet, columns=["doc_id", "text"]).to_pydict()
    ids = t["doc_id"]
    pairs = exact_pairs(shingle_sets(t["text"]), threshold)
    rows = [(ids[a], ids[b], j) if ids[a] < ids[b] else (ids[b], ids[a], j)
            for (a, b), j in pairs.items()]
    return pd.DataFrame(rows, columns=["doc_a", "doc_b", "jaccard"])
