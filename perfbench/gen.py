"""Seeded input generator for the benchmark.

Writes the tables `graft.Tables` loads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings), one parquet file
each, in the schema of the repository's parquet test data (FIXTURES.md
section B).  Value domains follow that data so every TPC-H-shaped query of
`graft.queries` selects rows: NATION_n names, Brand#1..25, six p_type
words, adjective-noun part names, dates 1995-01-01 .. 2001-08-01 stored as
timestamp[us].

The corpus tables are planted: `documents` holds `n_texts` distinct texts,
each copied `copies` times (copy j of text t has doc_id t + j * n_texts), and
`embeddings` holds `n_vecs` distinct unit vectors with the same layout.  The
copies are what the dedup and ANN checks count on.

The same (seed, sizes) always gives byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "D").astype(np.int64)
ORDER_DAYS = int((np.datetime64("2001-08-01", "D")
                  - np.datetime64("1995-01-01", "D")).astype(np.int64))
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = ("a the data spark query table scan sort hash join group agg filter "
         "window stream batch merge key value row column line part order "
         "customer vector index lake fast slow big small plan cache shard "
         "page block log commit").split()
LANGS = ["de", "en", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DIM = 64
ROW_GROUP = 100_000


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=ROW_GROUP)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, words, n):
    return pa.array(np.asarray(words, dtype=object)[rng.integers(0, len(words), n)])


def _ts(days):
    return pa.array((EPOCH_1995 + days).astype(np.int64) * DAY_US,
                    type=pa.timestamp("us"))


def tpch(out, rng, sf):
    """The seven TPC-H-shaped tables at scale factor `sf`."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = [f"{a} {n}" for a in ADJ for n in NOUN]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail})
    odate = rng.integers(0, ORDER_DAYS + 1, n_ord)
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n_li) - starts + 1).astype(np.int32)
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li))})


def events(out, rng, n):
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(base + np.sort(rng.integers(0, 86_400_000_000, n)),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, 2000, n),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": _money(rng, n, 0.0, 200.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def corpus(out, rng, n_texts, n_vecs, copies):
    """Planted documents and embeddings: every text/vector `copies` times."""
    lens = rng.integers(12, 60, n_texts)
    vocab = np.asarray(WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), k)]) for k in lens]
    lang = rng.integers(0, len(LANGS), n_texts)
    src = rng.integers(0, 20, n_texts)
    rep = lambda a: np.tile(np.asarray(a), copies)
    _write(out, "documents", {
        "doc_id": np.arange(n_texts * copies, dtype=np.int64),
        "text": pa.array(rep(np.asarray(texts, dtype=object))),
        "lang": pa.array(rep(np.asarray(LANGS, dtype=object)[lang])),
        "source": pa.array(rep(np.asarray([f"src{s}" for s in src], dtype=object))),
        "n_chars": rep(np.array([len(t) for t in texts], dtype=np.int64))})
    v = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = np.tile(v, (copies, 1)).reshape(-1)
    offsets = np.arange(0, len(flat) + 1, DIM, dtype=np.int32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs * copies, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(flat, pa.float32())),
        "label": rep(rng.integers(0, 10, n_vecs).astype(np.int32))})


def lake_plan(rng, n_texts, n_vecs, copies):
    """The seeded operation stream of corpus_lake (see LakeRun.scala).

    A fixed sequence of operation kinds with seeded arguments, so every
    round and every seed attempts the same operations."""
    n_docs = n_texts * copies
    kinds = ["ann", "fts", "scan", "lookup", "delete", "ann", "update",
             "timetravel", "merge", "fts", "compact", "scan", "lookup"]
    stream, commits = [], [-1]
    for step, kind in enumerate(kinds):
        st = {"op": kind}
        if kind == "ann":
            st["vec_id"] = int(rng.integers(0, n_vecs * copies))
        elif kind == "fts":
            st["terms"] = [str(w) for w in rng.choice(WORDS, 2, replace=False)]
        elif kind == "scan":
            lo = int(rng.integers(0, n_docs - n_docs // 8))
            st["pred"] = f"doc_id >= {lo} AND doc_id < {lo + n_docs // 8}"
        elif kind == "lookup":
            st["doc_id"] = int(rng.integers(0, n_docs))
        elif kind == "delete":
            st["pred"] = f"doc_id % {int(rng.integers(20, 40))} = {int(rng.integers(0, 20))}"
        elif kind == "update":
            st["pred"] = (f"doc_id % {int(rng.integers(10, 20))} = {int(rng.integers(0, 10))}"
                          f" AND doc_id < {int(rng.integers(n_docs // 2, n_docs))}")
        elif kind == "merge":
            lo = int(rng.integers(0, n_docs - n_docs // 20))
            st.update(lo=lo, hi=lo + n_docs // 20, new=n_docs // 50)
        elif kind == "timetravel":
            st["at"] = int(commits[int(rng.integers(0, len(commits)))])
        if kind in ("delete", "update", "merge", "compact"):
            commits.append(step)
        stream.append(st)
    return {"batches": 2, "n_docs": n_docs, "n_vecs": n_vecs * copies,
            "compact_rows": n_docs // 4 + 1, "stream": stream}


WIRE_TABLES = ["customer", "documents", "embeddings", "events", "lineitem",
               "nation", "orders", "part", "region", "supplier"]


def wire_plan(rng, sf, clients, per_client):
    """Seeded statement lists, one per client (see WireRun.scala)."""
    n_ord, n_cust = int(1_500_000 * sf), int(150_000 * sf)
    # No observed client session gives a mix, so the three kinds take turns
    # (an even split); each kind cycles through its statement shapes, so every
    # seed sends the same shapes in the same order and only the keys differ.
    kinds = ["point", "groupby", "catalog"]
    out = []
    for client in range(clients):
        stmts = []
        for i in range(per_client):
            kind = kinds[i % len(kinds)]
            shape = i // len(kinds) % 2
            if kind == "point" and shape == 0:
                stmts.append({"kind": kind, "params": [["20", str(int(rng.integers(0, n_ord)))]],
                              "sql": "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority "
                                     "FROM orders WHERE o_orderkey = $1"})
            elif kind == "point":
                stmts.append({"kind": kind, "params": [["20", str(int(rng.integers(0, n_cust)))]],
                              "sql": "SELECT c_custkey, c_name, c_acctbal, c_mktsegment "
                                     "FROM customer WHERE c_custkey = $1"})
            elif kind == "groupby" and shape == 0:
                lo = int(rng.integers(0, n_ord - 2000))
                stmts.append({"kind": kind, "params": [],
                              "sql": "SELECT l_returnflag, l_linestatus, count(*) AS n, "
                                     "sum(l_quantity) AS qty FROM lineitem "
                                     f"WHERE l_orderkey BETWEEN {lo} AND {lo + 2000} "
                                     "GROUP BY l_returnflag, l_linestatus "
                                     "ORDER BY l_returnflag, l_linestatus"})
            elif kind == "groupby":
                lo = int(rng.integers(0, n_cust - 500))
                stmts.append({"kind": kind, "params": [],
                              "sql": "SELECT o_orderpriority, count(*) AS n, "
                                     "sum(o_totalprice) AS total FROM orders "
                                     f"WHERE o_custkey BETWEEN {lo} AND {lo + 500} "
                                     "GROUP BY o_orderpriority ORDER BY o_orderpriority"})
            else:
                t = WIRE_TABLES[int(rng.integers(0, len(WIRE_TABLES)))]
                sql = [f"SELECT column_name, data_type FROM information_schema.columns "
                       f"WHERE table_name = '{t}' ORDER BY ordinal_position",
                       "SELECT table_name FROM information_schema.tables ORDER BY table_name",
                       "SELECT relname FROM pg_catalog.pg_class WHERE relkind = 'r' "
                       "ORDER BY relname"][(i // len(kinds) + client) % 3]
                stmts.append({"kind": kind, "params": [], "sql": sql})
        out.append(stmts)
    return {"clients": out}


def generate(out, seed, sf, n_texts, n_vecs, copies, clients):
    """All tables plus lake_plan.json and wire_plan.json under `out`."""
    os.makedirs(out, exist_ok=True)
    rngs = [np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(5)]
    tpch(out, rngs[0], sf)
    events(out, rngs[1], 10_000)
    corpus(out, rngs[2], n_texts, n_vecs, copies)
    with open(os.path.join(out, "lake_plan.json"), "w") as f:
        json.dump(lake_plan(rngs[3], n_texts, n_vecs, copies), f)
    with open(os.path.join(out, "wire_plan.json"), "w") as f:
        json.dump(wire_plan(rngs[4], sf, clients, 12), f)
