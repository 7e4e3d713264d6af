"""Seeded input generator for the benchmark workloads.

Every table is drawn fresh from ``numpy.random.default_rng(seed)``; only
the schemas, value domains and reference row counts come from
``domains.json`` (extracted from the sf0.1 fixture by extract_domains.py).
``scale`` multiplies the reference (sf0.1) row counts.

What the generator guarantees:
- foreign keys resolve (every order's customer, every line's order, part
  and supplier, every event's user exists);
- documents carry a planted near-duplicate share: a copied earlier
  document with an edit ladder of 1, 2, 4 or 8 word substitutions;
- one 64-dim unit embedding per document, ``vec_id == doc_id``, drawn
  around 10 cluster centres (a near-duplicate stays near its source);
- tick deltas only insert or update rows, and never change a value that
  decides whether a keyed pipeline row exists, so keyed MERGE sinks
  converge to the job queries recomputed on the final inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DOMAINS = json.load(open(os.path.join(os.path.dirname(__file__), "domains.json")))
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events")
DELTA_TABLES = ("customer", "orders", "lineitem", "events")  # the tables tick deltas change
DUP_SHARE = 0.25
EDIT_LADDER = (1, 2, 4, 8)
N_CLUSTERS = 10
USERS_PER_CUSTOMER = 0.1  # the fixture's events cover a tenth of customers

SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                         ("n_regionkey", pa.int32())]),
    "customer": pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                           ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                           ("c_mktsegment", pa.string())]),
    "supplier": pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                           ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    "part": pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                       ("p_brand", pa.string()), ("p_type", pa.string()),
                       ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
    "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                         ("o_orderdate", pa.timestamp("us")),
                         ("o_orderpriority", pa.string())]),
    "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                           ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                           ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                           ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                           ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                           ("l_shipdate", pa.timestamp("us"))]),
    "events": pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                         ("user_id", pa.int64()), ("event_type", pa.string()),
                         ("value", pa.float64()), ("props", pa.string())]),
    "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())]),
    "embeddings": pa.schema([("vec_id", pa.int64()),
                             ("embedding", pa.list_(pa.float32())),
                             ("label", pa.int32())]),
}


def _col(table: str, column: str) -> dict:
    return DOMAINS[table]["columns"][column]


def _values(table: str, column: str) -> np.ndarray:
    return np.array(_col(table, column)["values"], dtype=object)


def _rows(table: str, scale: float) -> int:
    return max(1, round(DOMAINS[table]["rows"] * scale))


def _pick(rng, table: str, column: str, n: int) -> np.ndarray:
    return rng.choice(_values(table, column), n)


def _uniform(rng, table: str, column: str, n: int, decimals: int) -> np.ndarray:
    dom = _col(table, column)
    return np.round(rng.uniform(float(dom["min"]), float(dom["max"]), n), decimals)


def _days(rng, table: str, column: str, n: int) -> np.ndarray:
    """Midnight timestamps drawn uniformly over the column's date range."""
    dom = _col(table, column)
    lo = np.datetime64(dom["min"][:10], "D")
    hi = np.datetime64(dom["max"][:10], "D")
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _instants(rng, table: str, column: str, n: int) -> np.ndarray:
    """Microsecond timestamps drawn uniformly over the column's range."""
    dom = _col(table, column)
    lo = np.datetime64(dom["min"][:10], "D").astype("datetime64[us]")
    hi = (np.datetime64(dom["max"][:10], "D") + 1).astype("datetime64[us]")
    span = int((hi - lo).astype(np.int64))
    return lo + rng.integers(0, span, n).astype("timedelta64[us]")


def _frame(name: str, cols: dict) -> pa.Table:
    return pa.Table.from_pandas(pd.DataFrame(cols), schema=SCHEMAS[name],
                                preserve_index=False)


# ------------------------------------------------------------ star schema


def star_schema(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = (_rows(t, scale) for t in ("customer", "supplier", "part"))
    n_ord, n_line, n_ev = (_rows(t, scale) for t in ("orders", "lineitem", "events"))
    n_users = max(1, round(n_cust * USERS_PER_CUSTOMER))
    regions = _col("region", "r_name")["values"]
    nations = sorted(_col("nation", "n_name")["values"], key=lambda s: int(s.split("_")[1]))
    out = {
        "region": _frame("region", {"r_regionkey": np.arange(len(regions)),
                                    "r_name": regions}),
        # every region keeps at least one nation, so region filters never go empty
        "nation": _frame("nation", {
            "n_nationkey": np.arange(len(nations)), "n_name": nations,
            "n_regionkey": rng.permutation(np.arange(len(nations)) % len(regions))}),
        "customer": _frame("customer", {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": rng.integers(0, len(nations), n_cust),
            "c_acctbal": _uniform(rng, "customer", "c_acctbal", n_cust, 2),
            "c_mktsegment": _pick(rng, "customer", "c_mktsegment", n_cust)}),
        "supplier": _frame("supplier", {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": rng.integers(0, len(nations), n_supp),
            "s_acctbal": _uniform(rng, "supplier", "s_acctbal", n_supp, 2)}),
        "part": _frame("part", {
            "p_partkey": np.arange(n_part),
            "p_name": _pick(rng, "part", "p_name", n_part),
            "p_brand": _pick(rng, "part", "p_brand", n_part),
            "p_type": _pick(rng, "part", "p_type", n_part),
            "p_size": rng.integers(1, 51, n_part),
            "p_retailprice": _uniform(rng, "part", "p_retailprice", n_part, 1)}),
    }
    out["orders"] = _orders(rng, np.arange(n_ord), n_cust)
    out["lineitem"] = _lineitems(rng, rng.integers(0, n_ord, n_line), n_part, n_supp)
    out["events"] = _events(rng, np.arange(n_ev), n_users)
    return out


def _orders(rng, keys: np.ndarray, n_cust: int) -> pa.Table:
    n = len(keys)
    return _frame("orders", {
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, n_cust, n),
        "o_orderstatus": _pick(rng, "orders", "o_orderstatus", n),
        "o_totalprice": _uniform(rng, "orders", "o_totalprice", n, 2),
        "o_orderdate": _days(rng, "orders", "o_orderdate", n),
        "o_orderpriority": _pick(rng, "orders", "o_orderpriority", n)})


def _lineitems(rng, order_keys: np.ndarray, n_part: int, n_supp: int) -> pa.Table:
    n = len(order_keys)
    return _frame("lineitem", {
        "l_orderkey": order_keys,
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": rng.integers(1, 8, n),
        "l_quantity": rng.integers(1, 51, n).astype(float),
        "l_extendedprice": _uniform(rng, "lineitem", "l_extendedprice", n, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, "lineitem", "l_returnflag", n),
        "l_linestatus": _pick(rng, "lineitem", "l_linestatus", n),
        "l_shipdate": _days(rng, "lineitem", "l_shipdate", n)})


def _events(rng, ids: np.ndarray, n_users: int) -> pa.Table:
    n = len(ids)
    return _frame("events", {
        "event_id": ids,
        "ts": _instants(rng, "events", "ts", n),
        "user_id": rng.integers(0, n_users, n),
        "event_type": _pick(rng, "events", "event_type", n),
        # the fixture's values are exponential with mean ~50
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


# ------------------------------------------------------------ tick deltas


@dataclass
class Delta:
    tables: dict[str, pa.Table]
    changed_rows: int


def tick_delta(tables: dict[str, pa.Table], seed: int, tick: int,
               share: float = 0.01) -> Delta:
    """Insert new orders (with lines) and events, and update a ``share``
    of orders, events and customers. Updates touch only payload columns:
    order price and priority, event value (scaled down, so ``value < 300``
    never turns false), customer balance. Keys, order status and dates,
    and event types stay fixed, so no keyed pipeline row disappears."""
    rng = np.random.default_rng([seed, 2, tick])
    out = dict(tables)
    n_cust = tables["customer"].num_rows
    n_users = max(1, round(n_cust * USERS_PER_CUSTOMER))
    n_part, n_supp = tables["part"].num_rows, tables["supplier"].num_rows
    changed = 0

    orders = tables["orders"].to_pandas()
    n_new = max(1, round(len(orders) * share))
    upd = rng.choice(len(orders), n_new, replace=False)
    orders.loc[upd, "o_totalprice"] = _uniform(rng, "orders", "o_totalprice", n_new, 2)
    orders.loc[upd, "o_orderpriority"] = _pick(rng, "orders", "o_orderpriority", n_new)
    new_keys = np.arange(len(orders), len(orders) + n_new)
    new_orders = _orders(rng, new_keys, n_cust)
    out["orders"] = pa.concat_tables([_frame("orders", orders), new_orders])
    new_lines = _lineitems(rng, np.repeat(new_keys, 4), n_part, n_supp)
    out["lineitem"] = pa.concat_tables([tables["lineitem"], new_lines])
    changed += 2 * n_new + new_lines.num_rows

    events = tables["events"].to_pandas()
    n_ev = max(1, round(len(events) * share))
    upd = rng.choice(len(events), n_ev, replace=False)
    events.loc[upd, "value"] = np.round(events.loc[upd, "value"] * rng.uniform(0.5, 1.0, n_ev), 2)
    new_events = _events(rng, np.arange(len(events), len(events) + n_ev), n_users)
    out["events"] = pa.concat_tables([_frame("events", events), new_events])
    changed += 2 * n_ev

    customer = tables["customer"].to_pandas()
    n_c = max(1, round(len(customer) * share))
    upd = rng.choice(len(customer), n_c, replace=False)
    customer.loc[upd, "c_acctbal"] = _uniform(rng, "customer", "c_acctbal", n_c, 2)
    out["customer"] = _frame("customer", customer)
    changed += n_c
    return Delta(out, changed)


# ------------------------------------------------------------ corpus


def corpus(seed: int, n_docs: int, dup_share: float = DUP_SHARE) -> dict[str, pa.Table]:
    """Documents with a planted near-duplicate share and their embeddings."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(DOMAINS["documents"]["vocabulary"], dtype=object)
    lo, hi = DOMAINS["documents"]["words_per_doc"]
    langs, sources = _values("documents", "lang"), _values("documents", "source")
    dim = _col("embeddings", "embedding")["dim"]
    centres = rng.normal(size=(N_CLUSTERS, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)

    texts, labels, vecs = [], np.empty(n_docs, np.int32), np.empty((n_docs, dim))
    for i in range(n_docs):
        if i > 0 and rng.random() < dup_share:
            src = int(rng.integers(0, i))
            words = texts[src].split()
            edits = min(len(words), int(rng.choice(EDIT_LADDER)))
            at = rng.choice(len(words), edits, replace=False)
            for j, w in zip(at, rng.choice(vocab, edits)):
                words[j] = w
            labels[i] = labels[src]
            vecs[i] = vecs[src] + rng.normal(scale=0.02, size=dim)
        else:
            words = list(rng.choice(vocab, int(rng.integers(lo, hi + 1))))
            labels[i] = rng.integers(0, N_CLUSTERS)
            vecs[i] = centres[labels[i]] + rng.normal(scale=0.6 / np.sqrt(dim), size=dim)
        vecs[i] /= np.linalg.norm(vecs[i])
        texts.append(" ".join(words))
    ids = np.arange(n_docs)
    docs = _frame("documents", {
        "doc_id": ids, "text": texts,
        "lang": rng.choice(langs, n_docs), "source": rng.choice(sources, n_docs),
        "n_chars": [len(t) for t in texts]})
    emb = _frame("embeddings", {
        "vec_id": ids, "embedding": list(vecs.astype(np.float32)), "label": labels})
    return {"documents": docs, "embeddings": emb}


# ------------------------------------------------------------ files + digests


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write each table as ``<out_dir>/<name>.parquet``; return bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


def write_backlog(docs: pa.Table, out_dir: str, docs_per_file: int) -> None:
    """Split documents into numbered parquet files, oldest first by mtime,
    so a file stream with one file per trigger drains them in id order."""
    os.makedirs(out_dir, exist_ok=True)
    for k, start in enumerate(range(0, docs.num_rows, docs_per_file)):
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(docs.slice(start, docs_per_file), path)
        stamp = 1_600_000_000 + k
        os.utime(path, (stamp, stamp))


def digest(tables: dict[str, pa.Table]) -> str:
    """Content digest over the tables' names, schemas and values."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as writer:
            writer.write_table(tables[name])
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()
