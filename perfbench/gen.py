"""Seeded input generator for the benchmark workloads.

Pure numpy + pyarrow (+ the standard library): no Spark, no reads of
anything outside the output directory.  Every value derives from
``numpy.random.default_rng`` streams keyed on ``(seed, purpose)``, so
one seed gives byte-identical files and another seed gives different
ones, independent of the order in which the pieces are generated.

Shapes follow the TPC-H star schema (region, nation, customer, supplier,
part, orders, lineitem) plus the LLM-data tables (events, documents,
embeddings).  Sizes live in ``Sizes`` so tests can generate tiny sets.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "cart", "purchase", "search"]
SOURCES = ["web", "books", "news", "forum"]
EPOCH = dt.date(1992, 1, 1)
N_DAYS = 2400  # order dates span 1992-01-01 .. ~1998-07
EMBEDDING_DIM = 64


@dataclass(frozen=True)
class Sizes:
    customers: int = 3000
    suppliers: int = 200
    parts: int = 4000
    orders: int = 30000
    # elt_batch: rows landed per DAG iteration
    batch_lineitem: int = 8000
    batch_orders: int = 2000
    batch_events: int = 4000
    merge_target: int = 20000
    merge_batch: int = 2000
    # elt_batch: late orders appended to the versioned copy per iteration
    commit_rows: int = 1000
    # analytics: the corpus for the dedup and top-k functions
    documents: int = 800
    exact_dups: int = 40
    near_dups: int = 40
    embeddings: int = 400
    queries: int = 20


def rng(seed: int, *purpose: int | str) -> np.random.Generator:
    """Independent stream per (seed, purpose...)."""
    key = [seed] + [
        p if isinstance(p, int)
        else int.from_bytes(hashlib.blake2b(p.encode(), digest_size=8).digest(), "little")
        for p in purpose
    ]
    return np.random.default_rng(key)


def _epoch_days(days: np.ndarray) -> pa.Array:
    base = (EPOCH - dt.date(1970, 1, 1)).days
    return pa.array((days + base).astype("int32")).cast(pa.date32())


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[idx].tolist(), type=pa.string())


# --------------------------------------------------------------------------
# warehouse tables
# --------------------------------------------------------------------------
def dimension_tables(seed: int, s: Sizes) -> dict[str, pa.Table]:
    r = rng(seed, "dims")
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([n for n, _ in NATIONS]),
        "n_regionkey": pa.array(np.array([k for _, k in NATIONS], dtype="int32")),
    })
    ck = np.arange(1, s.customers + 1, dtype="int64")
    customer = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(r.integers(0, 25, s.customers).astype("int32")),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, s.customers), 2),
        "c_mktsegment": _pick(SEGMENTS, r.integers(0, 5, s.customers)),
    })
    sk = np.arange(1, s.suppliers + 1, dtype="int64")
    supplier = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(r.integers(0, 25, s.suppliers).astype("int32")),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, s.suppliers), 2),
    })
    pk = np.arange(1, s.parts + 1, dtype="int64")
    colors = ["almond", "blue", "green", "red", "ivory", "navy", "olive", "plum"]
    part = pa.table({
        "p_partkey": pk,
        "p_name": _pick([f"{a} {b}" for a in colors for b in colors], r.integers(0, 64, s.parts)),
        "p_brand": _pick([f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)], r.integers(0, 25, s.parts)),
        "p_type": _pick(["STANDARD BRASS", "SMALL STEEL", "LARGE COPPER", "ECONOMY TIN", "PROMO NICKEL"], r.integers(0, 5, s.parts)),
        "p_size": pa.array(r.integers(1, 51, s.parts).astype("int32")),
        "p_retailprice": np.round(900 + pk % 1000 + r.uniform(0, 100, s.parts), 2),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part}


def orders_lineitem(
    seed: int, s: Sizes, n_orders: int, key_base: int, purpose: str
) -> tuple[pa.Table, pa.Table]:
    """``n_orders`` orders with keys ``key_base + 1 ..`` and 1..7 lines each."""
    r = rng(seed, purpose)
    ok = np.arange(key_base + 1, key_base + n_orders + 1, dtype="int64")
    odays = r.integers(0, N_DAYS, n_orders)
    nlines = r.integers(1, 8, n_orders)
    l_ok = np.repeat(ok, nlines)
    l_odays = np.repeat(odays, nlines)
    n = len(l_ok)
    starts = np.cumsum(nlines) - nlines
    linenumber = (np.arange(n) - np.repeat(starts, nlines) + 1).astype("int32")
    qty = r.integers(1, 51, n).astype("float64")
    partkey = r.integers(1, s.parts + 1, n).astype("int64")
    price = np.round(qty * (900 + partkey % 1000) / 10.0, 2)
    disc = np.round(r.integers(0, 11, n) / 100.0, 2)
    tax = np.round(r.integers(0, 9, n) / 100.0, 2)
    shipdays = l_odays + r.integers(1, 122, n)
    returned = shipdays < N_DAYS * 0.55
    rflag = np.where(returned, np.where(r.random(n) < 0.5, "R", "A"), "N")
    lstatus = np.where(shipdays < N_DAYS * 0.6, "F", "O")
    lineitem = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": partkey,
        "l_suppkey": r.integers(1, s.suppliers + 1, n).astype("int64"),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": pa.array(rflag.tolist()),
        "l_linestatus": pa.array(lstatus.tolist()),
        "l_shipdate": _epoch_days(shipdays),
    })
    # order total = sum of its lines' discounted, taxed prices
    line_total = price * (1 - disc) * (1 + tax)
    totals = np.round(np.add.reduceat(line_total, starts), 2)
    status = np.where(odays < N_DAYS * 0.5, "F", np.where(odays < N_DAYS * 0.6, "P", "O"))
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": r.integers(1, s.customers + 1, n_orders).astype("int64"),
        "o_orderstatus": pa.array(status.tolist()),
        "o_totalprice": totals,
        "o_orderdate": _epoch_days(odays),
        "o_orderpriority": _pick(PRIORITIES, r.integers(0, 5, n_orders)),
    })
    return orders, lineitem


def events_table(seed: int, n: int, id_base: int, purpose: str) -> pa.Table:
    r = rng(seed, purpose)
    base_us = int(dt.datetime(1998, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    ts = base_us + np.sort(r.integers(0, 86_400_000_000, n))
    return pa.table({
        "event_id": np.arange(id_base + 1, id_base + n + 1, dtype="int64"),
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "user_id": r.integers(1, 500, n).astype("int64"),
        "event_type": _pick(EVENT_TYPES, r.integers(0, 5, n)),
        "value": np.round(r.exponential(20.0, n), 2),
    })


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_csv(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="needed"))


def write_ndjson_orders(orders: pa.Table, path: str) -> None:
    """Orders as NDJSON with a nested ``o_meta`` struct (flattened by
    ``load_file`` into ``o_meta_priority`` / ``o_meta_status``)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = orders.to_pydict()
    with open(path, "w") as fh:
        for i in range(orders.num_rows):
            fh.write(json.dumps({
                "o_orderkey": cols["o_orderkey"][i],
                "o_custkey": cols["o_custkey"][i],
                "o_totalprice": cols["o_totalprice"][i],
                "o_orderdate": cols["o_orderdate"][i].isoformat(),
                "o_meta": {
                    "priority": cols["o_orderpriority"][i],
                    "status": cols["o_orderstatus"][i],
                },
            }, separators=(",", ":")) + "\n")


# --------------------------------------------------------------------------
# per-workload inputs
# --------------------------------------------------------------------------
def warehouse(seed: int, out_dir: str, s: Sizes = Sizes()) -> dict[str, str]:
    """The warehouse tables as one parquet file each; returns name → path."""
    tables = dimension_tables(seed, s)
    tables["orders"], tables["lineitem"] = orders_lineitem(seed, s, s.orders, 0, "orders")
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        write_parquet(t, paths[name])
    return paths


def elt_target(seed: int, out_dir: str, s: Sizes = Sizes()) -> str:
    """The persistent merge target's starting state (orders keys 1..N)."""
    orders, _ = orders_lineitem(seed, s, s.merge_target, 0, "elt_target")
    path = os.path.join(out_dir, "orders_target.parquet")
    write_parquet(orders, path)
    return path


def elt_batch(seed: int, k: int, out_dir: str, s: Sizes = Sizes()) -> dict[str, str]:
    """Day ``k``'s landed files: lineitem CSV, orders NDJSON, events parquet,
    and the merge batch (parquet) whose keys overlap the target by ~30%.

    Keys of day k's new orders start above every earlier day's, so the
    target grows by the same amount every iteration of every run.
    """
    d = os.path.join(out_dir, f"day{k:03d}")
    n_new = s.merge_batch - int(s.merge_batch * 0.3)
    new_base = s.merge_target + k * n_new
    orders, lineitem = orders_lineitem(seed, s, s.batch_orders, 10_000_000 + k * s.batch_orders, f"day{k}")
    lineitem = lineitem.slice(0, s.batch_lineitem)
    events = events_table(seed, s.batch_events, k * s.batch_events, f"ev{k}")
    r = rng(seed, "merge", k)
    # 30% of the batch updates existing keys (drawn from the starting
    # target's key range), the rest insert new keys
    existing = np.sort(r.choice(np.arange(1, s.merge_target + 1), s.merge_batch - n_new, replace=False))
    upd, _ = orders_lineitem(seed, s, s.merge_batch, 0, f"merge{k}")
    keys = np.concatenate([existing, np.arange(new_base + 1, new_base + n_new + 1)]).astype("int64")
    upd = upd.set_column(0, "o_orderkey", pa.array(keys))
    paths = {
        "lineitem_csv": os.path.join(d, "lineitem.csv"),
        "orders_ndjson": os.path.join(d, "orders.ndjson"),
        "events_parquet": os.path.join(d, "events.parquet"),
        "merge_parquet": os.path.join(d, "merge.parquet"),
    }
    write_csv(lineitem, paths["lineitem_csv"])
    write_ndjson_orders(orders, paths["orders_ndjson"])
    write_parquet(events, paths["events_parquet"])
    write_parquet(upd, paths["merge_parquet"])
    return paths


def header_only_csv_dir(seed: int, k: int, out_dir: str, s: Sizes = Sizes()) -> str:
    """A CSV directory shaped like Spark's own output for a job whose first
    task had an empty split: ``part-00000`` holds only the header, the
    later parts hold the rows."""
    d = os.path.join(out_dir, f"probe{k:03d}")
    _, lineitem = orders_lineitem(seed, s, 200, 0, f"probe{k}")
    write_csv(lineitem.slice(0, 0), os.path.join(d, "part-00000.csv"))
    half = lineitem.num_rows // 2
    write_csv(lineitem.slice(0, half), os.path.join(d, "part-00001.csv"))
    write_csv(lineitem.slice(half), os.path.join(d, "part-00002.csv"))
    return d


def commit_rows(seed: int, step: int, n: int, key_base: int) -> pa.Table:
    """``n`` order rows with keys ``key_base + 1 ..`` for commit ``step``."""
    orders, _ = orders_lineitem(seed, Sizes(), n, key_base, f"commit{step}")
    return orders


def _vocabulary(r: np.random.Generator, n: int = 4000) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = r.integers(3, 10, n)
    words = {"".join(letters[r.integers(0, 26, m)]) for m in lens}
    return sorted(words)


def documents(seed: int, out_dir: str, s: Sizes = Sizes()) -> tuple[str, list[tuple[int, int]], list[tuple[int, int]]]:
    """Documents with injected exact and near duplicates.

    Returns (path, exact_pairs, near_pairs); each pair is (original id,
    duplicate id).  A near duplicate replaces ~3% of the original's
    tokens, keeping its 3-shingle Jaccard similarity above 0.8.
    """
    r = rng(seed, "docs")
    vocab = np.asarray(_vocabulary(r), dtype=object)
    n_base = s.documents - s.exact_dups - s.near_dups
    texts: list[str] = []
    for _ in range(n_base):
        n_tok = int(r.integers(40, 160))
        # ~4% of documents are too short for the quality filter
        if r.random() < 0.04:
            n_tok = int(r.integers(1, 4))
        texts.append(" ".join(vocab[r.zipf(1.3, n_tok) % len(vocab)]))
    originals = r.choice(n_base, s.exact_dups + s.near_dups, replace=False)
    # long originals only: a replaced token changes 3 shingles
    originals = [o for o in originals if len(texts[o].split()) >= 40]
    while len(originals) < s.exact_dups + s.near_dups:
        originals.append(int(r.integers(0, n_base)))
    exact_pairs, near_pairs = [], []
    for i, o in enumerate(originals):
        dup_id = len(texts) + 1
        if i < s.exact_dups:
            texts.append(texts[o])
            exact_pairs.append((int(o) + 1, dup_id))
        else:
            toks = texts[o].split()
            for j in r.choice(len(toks), max(1, len(toks) // 33), replace=False):
                toks[j] = str(vocab[r.integers(0, len(vocab))])
            texts.append(" ".join(toks))
            near_pairs.append((int(o) + 1, dup_id))
    n = len(texts)
    table = pa.table({
        "doc_id": np.arange(1, n + 1, dtype="int64"),
        "text": pa.array(texts),
        "lang": _pick(["en", "de", "fr"], r.integers(0, 3, n)),
        "source": _pick(SOURCES, r.integers(0, 4, n)),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    path = os.path.join(out_dir, "documents.parquet")
    write_parquet(table, path)
    return path, exact_pairs, near_pairs


def embeddings(seed: int, out_dir: str, s: Sizes = Sizes()) -> tuple[str, str]:
    """Clustered unit-ish vectors (corpus) and a query subset."""
    r = rng(seed, "emb")
    centers = r.normal(0, 1, (16, EMBEDDING_DIM))
    label = r.integers(0, 16, s.embeddings)
    vecs = (centers[label] + r.normal(0, 0.35, (s.embeddings, EMBEDDING_DIM))).astype("float32")
    ids = np.arange(1, s.embeddings + 1, dtype="int64")
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBEDDING_DIM).cast(pa.list_(pa.float32()))
    corpus = pa.table({"vec_id": ids, "embedding": emb, "label": pa.array(label.astype("int32"))})
    q_idx = np.sort(r.choice(s.embeddings, s.queries, replace=False))
    paths = (os.path.join(out_dir, "embeddings.parquet"), os.path.join(out_dir, "queries.parquet"))
    write_parquet(corpus, paths[0])
    write_parquet(corpus.take(pa.array(q_idx)), paths[1])
    return paths


# --------------------------------------------------------------------------
# query parameters
# --------------------------------------------------------------------------
def sql_params(seed: int, n_sets: int = 3) -> list[dict]:
    """``n_sets`` parameter sets for the warehouse query templates."""
    r = rng(seed, "sqlparams")
    out = []
    for _ in range(n_sets):
        out.append({
            "date": (EPOCH + dt.timedelta(days=int(r.integers(300, N_DAYS - 400)))).isoformat(),
            "segment": SEGMENTS[int(r.integers(0, 5))],
            "region": REGIONS[int(r.integers(0, 5))],
            "nation": NATIONS[int(r.integers(0, 25))][0],
            "discount": round(float(r.integers(2, 9)) / 100.0, 2),
            "quantity": int(r.integers(24, 26)),
            "color": ["almond", "blue", "green", "red"][int(r.integers(0, 4))],
            "min_total": int(r.integers(300, 330)),
        })
    return out
