"""Seeded input generators, one per workload.

Everything here is numpy + pyarrow + the standard library: no Spark, so
the inputs exist before the program under test is touched and the same
seed always yields byte-identical files.  Each generator also returns
the in-memory facts its workload's verifier needs (the CDC change log,
the corpus texts), so expected results never come from the program.

- ``write_star``: the TPC-H-ish star + ``events``/``documents``/
  ``embeddings`` tables the pinned catalog queries read, in the shape
  of the repository's fixtures (``FIXTURES.md`` §A).
- ``write_banking``: the banking ``customers``/``accounts``/
  ``transactions`` silver tables the marts read.
- ``write_cdc``: a seed ``transactions`` parquet file plus K change
  files of Debezium JSON envelopes (inserts, status updates on recent
  rows, rare deletes, duplicate redeliveries, out-of-order ``ts_ms``,
  a few malformed lines).
- ``corpus_texts``: the star's ``documents`` texts, a Zipfian-vocabulary
  corpus with varied lengths and planted near-duplicate clusters.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = dt.datetime(1970, 1, 1)


def rng(seed: int, stream: int) -> np.random.Generator:
    """An independent random stream per (seed, purpose)."""
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str) -> None:
    # fixed writer settings: same table -> same bytes
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _micros(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


# ---------------------------------------------------------------------------
# lake_analytics: the star
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "steel", "brass", "tin"]
NOUNS = ["widget", "bolt", "ring", "gear", "pipe", "valve", "spring", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]


def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _day_ts(days: np.ndarray, start: dt.datetime) -> pa.Array:
    us = _micros(start) + days.astype(np.int64) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star at scale ``sf`` (sf0.01: 15k orders, ~60k lineitems)."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = rng(seed, 1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })
    r = rng(seed, 2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })
    r = rng(seed, 3)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    r = rng(seed, 4)
    order_day = r.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _day_ts(order_day, dt.datetime(1995, 1, 1)),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    })
    r = rng(seed, 5)
    lines = 1 + r.binomial(12, 0.25, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _day_ts(order_day[okey] + r.integers(1, 122, n_li),
                              dt.datetime(1995, 1, 1)),
    })
    r = rng(seed, 6)
    ts = np.sort(r.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_micros(dt.datetime(2024, 1, 1)) + ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(int(15_000 * sf), 10), n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": _money(r, 0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    texts = corpus_texts(seed, n_doc)
    r = rng(seed, 7)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, 5, n_doc)],
        "source": [f"src{s}" for s in r.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    r = rng(seed, 8)
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + r.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_star(out_dir: str, seed: int, sf: float) -> None:
    """Write ``<table>.parquet`` for every star table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in star_tables(seed, sf).items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# lake_analytics: banking silver tables for the marts
# ---------------------------------------------------------------------------

ACCOUNT_TYPES = ["CHECKING", "SAVINGS", "CREDIT"]
CURRENCIES = ["USD", "EUR", "GBP"]


def _cents(values: np.ndarray) -> pa.Array:
    return pa.array([Decimal(int(v)).scaleb(-2) for v in values], pa.decimal128(18, 2))


def _utc(t0: dt.datetime, seconds: np.ndarray) -> pa.Array:
    # instants, as the silver layer stores them
    us = _micros(t0) + seconds.astype(np.int64) * 1_000_000
    return pa.array(us, type=pa.timestamp("us", tz="UTC"))


def write_banking(out_dir: str, seed: int, n_customers: int,
                  txns_per_account: int) -> None:
    """``customers``/``accounts``/``transactions`` silver tables in the
    program's banking schemas, one directory of parquet each."""
    r = rng(seed, 10)
    t0 = dt.datetime(2024, 1, 1)
    cid = np.arange(1, n_customers + 1)
    n_acc = r.integers(1, 4, n_customers)
    acc_cust = np.repeat(cid, n_acc)
    n_a = len(acc_cust)
    n_t = n_a * txns_per_account
    txn_acc = np.repeat(np.arange(1, n_a + 1), txns_per_account)
    types = np.array(TXN_TYPES)[r.integers(0, len(TXN_TYPES), n_t)]
    tables = {
        "customers": pa.table({
            "id": pa.array(cid, pa.int64()),
            "first_name": [f"F{i % 97}" for i in cid],
            "last_name": [f"L{i % 89}" for i in cid],
            "email": [f"user{i}@example.com" for i in cid],
            "created_at": _utc(t0, r.integers(0, 86_400 * 30, n_customers)),
        }),
        "accounts": pa.table({
            "id": pa.array(np.arange(1, n_a + 1), pa.int64()),
            "customer_id": pa.array(acc_cust, pa.int64()),
            "account_type": np.array(ACCOUNT_TYPES)[r.integers(0, 3, n_a)],
            "balance": _cents(r.integers(0, 5_000_000, n_a)),
            "currency": np.array(CURRENCIES)[r.choice(3, n_a, p=[0.7, 0.2, 0.1])],
            "created_at": _utc(t0, r.integers(86_400 * 30, 86_400 * 60, n_a)),
        }),
        "transactions": pa.table({
            "id": pa.array(np.arange(1, n_t + 1), pa.int64()),
            "account_id": pa.array(txn_acc, pa.int64()),
            "txn_type": types,
            "amount": _cents(r.integers(100, 500_000, n_t)),
            "related_account_id": pa.array(
                [int(a) if t == "TRANSFER" else None
                 for a, t in zip(r.integers(1, n_a + 1, n_t), types)], pa.int64()),
            "status": np.array(STATUSES)[r.choice(4, n_t, p=[0.85, 0.08, 0.04, 0.03])],
            # whole seconds over 90 days: same-account ties are broken by id
            "created_at": _utc(t0, r.integers(86_400 * 60, 86_400 * 150, n_t)),
        }),
    }
    for name, t in tables.items():
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        _write(t, os.path.join(out_dir, name, "part-0.parquet"))


# ---------------------------------------------------------------------------
# cdc_ingest: seed table + Debezium change files
# ---------------------------------------------------------------------------

TXN_TYPES = ["DEPOSIT", "WITHDRAWAL", "TRANSFER", "PAYMENT", "REFUND", "FEE", "INTEREST"]
STATUSES = ["COMPLETED", "PENDING", "FAILED", "CANCELLED"]
TXN_COLS = ["id", "account_id", "txn_type", "amount", "related_account_id",
            "status", "created_at"]
CDC_T0 = dt.datetime(2024, 6, 1)


@dataclass
class Change:
    """One change event as the generator meant it (``line`` is the wire
    form; ``None`` row fields mean a delete's missing after-image)."""
    key: int
    op: str
    ts_ms: int
    after: tuple | None


@dataclass
class CdcLog:
    seed_rows: list[tuple]
    files: list[list[Change]] = field(default_factory=list)
    paths: list[str] = field(default_factory=list)
    n_applied: int = 0     # well-formed change events, redeliveries included


def _txn_row(r: np.random.Generator, key: int, created: dt.datetime) -> tuple:
    t = TXN_TYPES[int(r.integers(0, 7))]
    related = int(r.integers(1, 5000)) if t == "TRANSFER" else None
    status = STATUSES[int(r.choice(4, p=[0.85, 0.08, 0.04, 0.03]))]
    amount = Decimal(int(r.integers(100, 500_000))).scaleb(-2)
    return (key, int(r.integers(1, 5000)), t, amount, related, status, created)


def _json_row(row: tuple) -> dict:
    d = dict(zip(TXN_COLS, row))
    d["amount"] = float(d["amount"])  # exact: 2-decimal values < 2^53 cents
    d["created_at"] = d["created_at"].strftime("%Y-%m-%dT%H:%M:%S.000Z")
    return d


def _envelope(ch: Change, before: tuple | None) -> str:
    payload = {
        "before": _json_row(before) if before is not None else None,
        "after": _json_row(ch.after) if ch.after is not None else None,
        "op": ch.op,
        "ts_ms": ch.ts_ms,
        "source": {"table": "transactions"},
    }
    return json.dumps({"payload": payload}, separators=(",", ":"))


def seed_transactions_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table({
        "id": pa.array(cols[0], pa.int64()),
        "account_id": pa.array(cols[1], pa.int64()),
        "txn_type": pa.array(cols[2], pa.string()),
        "amount": pa.array(cols[3], pa.decimal128(18, 2)),
        "related_account_id": pa.array(cols[4], pa.int64()),
        "status": pa.array(cols[5], pa.string()),
        "created_at": pa.array(cols[6], pa.timestamp("us")),
    })


def write_cdc(out_dir: str, seed: int, n_seed: int, n_files: int,
              per_file: int) -> CdcLog:
    """Seed parquet at ``out_dir/seed.parquet`` and change files
    ``out_dir/changes/part-NNNN.json`` with strictly increasing mtimes
    (the file source orders a directory listing by modification time)."""
    r = rng(seed, 20)
    rows = [_txn_row(r, k, CDC_T0 + dt.timedelta(seconds=30 * k))
            for k in range(1, n_seed + 1)]
    os.makedirs(os.path.join(out_dir, "changes"), exist_ok=True)
    _write(seed_transactions_table(rows), os.path.join(out_dir, "seed.parquet"))
    log = CdcLog(seed_rows=rows)
    live = {row[0]: row for row in rows}
    next_key = n_seed + 1
    ts_ms = 1_717_200_000_000
    mtime = 1_700_000_000
    for f in range(n_files):
        changes: list[tuple[Change, tuple | None]] = []
        recent = sorted(live)[-2000:]
        for _ in range(per_file):
            ts_ms += int(r.integers(1, 50))
            u = r.random()
            if u < 0.55 or not recent:  # insert
                key = next_key
                next_key += 1
                row = _txn_row(r, key, CDC_T0 + dt.timedelta(seconds=30 * key))
                changes.append((Change(key, "c", ts_ms, row), None))
                live[key] = row
                recent.append(key)
            elif u < 0.985:  # status update on a recent row
                key = recent[int(r.integers(0, len(recent)))]
                old = live[key]
                status = STATUSES[(STATUSES.index(old[5]) + 1 + int(r.integers(0, 3))) % 4]
                row = old[:5] + (status,) + old[6:]
                changes.append((Change(key, "u", ts_ms, row), old))
                live[key] = row
            else:  # rare delete
                key = recent.pop(int(r.integers(0, len(recent))))
                old = live.pop(key)
                changes.append((Change(key, "d", ts_ms, None), old))
        # wire order: shuffled within the file, so ts_ms arrives out of order
        order = r.permutation(len(changes))
        lines = [_envelope(*changes[i]) for i in order]
        dup = r.choice(len(lines), max(1, len(lines) // 30), replace=False)
        lines += [lines[i] for i in dup]  # at-least-once redelivery
        lines.insert(int(r.integers(0, len(lines))), '{"payload": {"before": null, "after": {"id": ')
        lines.insert(int(r.integers(0, len(lines))), "not an envelope")
        path = os.path.join(out_dir, "changes", f"part-{f:04d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        mtime += 10
        os.utime(path, (mtime, mtime))
        log.files.append([c for c, _ in changes])
        log.paths.append(path)
        log.n_applied += len(changes) + len(dup)
    return log


# ---------------------------------------------------------------------------
# the star's documents: a skewed corpus
# ---------------------------------------------------------------------------

VOCAB = 4000          # corpus vocabulary size
ZIPF_S = 1.05         # word-rank exponent: a few words in most docs
CLUSTER_SHARE = 0.12  # share of docs that are edited copies


def corpus_texts(seed: int, n_docs: int) -> list[str]:
    """Zipfian word soup of lognormal lengths; ``CLUSTER_SHARE`` of the
    docs are edited copies (2-10% of words replaced, or a span cut) of
    an earlier doc, planting near-duplicate clusters across the Jaccard
    range around the 0.5 threshold."""
    r = rng(seed, 30)
    vocab = VOCAB
    p = np.arange(1, vocab + 1, dtype=np.float64) ** -ZIPF_S
    p /= p.sum()
    words = np.array([f"w{i}" for i in range(vocab)])
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and r.random() < CLUSTER_SHARE:
            toks = texts[int(r.integers(max(0, i - 400), i))].split()
            if r.random() < 0.7:
                k = max(1, int(len(toks) * r.uniform(0.02, 0.10)))
                for j in r.integers(0, len(toks), k):
                    toks[j] = str(words[int(r.choice(vocab, p=p))])
            else:
                cut = int(len(toks) * r.uniform(0.05, 0.2))
                s = int(r.integers(0, len(toks) - cut + 1))
                toks = toks[:s] + toks[s + cut:]
        else:
            n = int(np.clip(r.lognormal(4.0, 0.6), 8, 600))
            toks = list(words[r.choice(vocab, n, p=p)])
        texts.append(" ".join(toks))
    return texts
