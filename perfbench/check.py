"""Output checks, made apart from the program.

Each check reads the outputs a run wrote (tpch_results.jsonl,
lake_steps.jsonl, wire_results.jsonl) and the generated inputs, recomputes
the answer with DuckDB or numpy, and returns a list of mismatches (empty when
every output is right) plus any per-layer figures the check yields.
"""
import json
import math
import os
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
REL = 1e-6       # relative tolerance for doubles summed in a different order
BM25_K1, BM25_B = 1.2, 0.75   # graft.pipeline.Fts.K1 / Fts.B


def _lines(path):
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def _con(data):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def _num(v):
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return float(v)
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _cell_eq(a, b):
    x, y = _num(a), _num(b)
    if x is not None and y is not None:
        return x == y or abs(x - y) <= REL * max(abs(x), abs(y), 1e-9)
    return _text(a) == _text(b)


def _text(v):
    return "NULL" if v is None else str(v)


def _key(row):
    """Sort key: text cells as text, numbers rounded to 6 significant digits."""
    out = []
    for v in row:
        x = _num(v)
        out.append((0, float(f"{x:.6g}"), "") if x is not None else (1, 0.0, _text(v)))
    return out


def rows_match(got, want, ordered):
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    if all(len(g) == len(w) and all(map(_cell_eq, g, w)) for g, w in zip(got, want)):
        return True
    if ordered:
        return False
    # near-equal doubles can sort apart: fall back to a greedy matching
    left = list(want)
    for g in got:
        i = next((i for i, w in enumerate(left)
                  if len(g) == len(w) and all(map(_cell_eq, g, w))), None)
        if i is None:
            return False
        left.pop(i)
    return True


def _by_columns(cols, rows):
    """Reorder cells by sorted column name, as dev/compare.py does."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return [[r[i] for i in order] for r in rows], [cols[i].lower() for i in order]


def _duck_rows(rel):
    rows = []
    for r in rel.fetchall():
        rows.append([v.isoformat() if hasattr(v, "isoformat") else v for v in r])
    return rows


# ------------------------------------------------------------------ tpch

def check_tpch(data, out, oracles):
    """Every timed query result against DuckDB running the query's own
    oracle SQL over the same files. q15 compares a double sum with `=`,
    which DuckDB's differently ordered sums never satisfy, so q15 is checked
    against DuckDB's max revenue within a relative 1e-9 instead."""
    con = _con(data)
    want = {}
    bad = []
    for name, sql in oracles.items():
        if name == "q15_cte_max":
            m = re.search(r"WITH revenue AS \((.*?)\)\s*SELECT", sql, re.S)
            rev = con.sql(m.group(1)).fetchall()
            want[name] = (max(r[1] for r in rev), {r[0]: r[1] for r in rev})
        else:
            rel = con.sql(sql)
            want[name] = _by_columns([c for c in rel.columns], _duck_rows(rel))
    for rec in _lines(os.path.join(out, "tpch_results.jsonl")):
        name = rec["name"]
        if not rec["ok"]:
            continue
        if name == "q15_cte_max":
            top, rev = want[name]
            cols = [c.lower() for c in rec["columns"]]
            ok = len(rec["rows"]) >= 1 and all(
                abs(r[cols.index("total_revenue")] - top) <= 1e-9 * abs(top)
                and abs(rev.get(r[cols.index("s_suppkey")], math.inf) - top) <= 1e-9 * abs(top)
                for r in rec["rows"])
        else:
            got, gcols = _by_columns(rec["columns"], rec["rows"])
            wrows, wcols = want[name]
            ok = gcols == wcols and rows_match(got, wrows, ordered=False)
        if not ok:
            bad.append(f"{name} round {rec['round']}: result differs from DuckDB")
    return bad, {}


# ------------------------------------------------------------------ lake

def _shingles(text, k=3):
    toks = text.split(" ")
    return {" ".join(toks[i:i + k]) for i in range(max(0, len(toks) - k) + 1)}


class LakeModel:
    """Serial DuckDB model of the documents dataset under the plan's
    commits. `indexed` marks rows present when the FTS index was built."""

    def __init__(self, data):
        self.con = duckdb.connect()
        self.con.sql(f"CREATE VIEW input AS SELECT * FROM '{data}/documents.parquet'")
        self.con.sql("CREATE TABLE docs AS SELECT doc_id, text, lang, source, n_chars, "
                     "true AS indexed FROM input")

    def sums(self, pred=None, version_table="docs"):
        where = f"WHERE {pred}" if pred else ""
        r = self.con.sql(
            f"SELECT count(*), coalesce(sum(doc_id), 0), coalesce(sum(n_chars), 0), "
            f"coalesce(sum(length(lang)), 0), coalesce(sum(length(text)), 0) "
            f"FROM {version_table} {where}").fetchone()
        return [int(x) for x in r]

    def snapshot(self, name):
        self.con.sql(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM docs")

    def count(self, pred):
        return self.con.sql(f"SELECT count(*) FROM docs WHERE {pred}").fetchone()[0]

    def delete(self, pred):
        n = self.count(pred)
        self.con.sql(f"DELETE FROM docs WHERE {pred}")
        return n

    def update(self, pred):
        n = self.count(pred)
        self.con.sql(f"UPDATE docs SET n_chars = n_chars + 1000 WHERE {pred}")
        return n

    def merge(self, lo, hi, new):
        self.con.sql(f"""CREATE OR REPLACE TEMP TABLE src AS
            SELECT doc_id, text, 'upd' AS lang, source, n_chars + 7 AS n_chars
            FROM input WHERE doc_id >= {lo} AND doc_id < {hi}
            UNION ALL
            SELECT doc_id + 100000000, text, lang, source, n_chars
            FROM input WHERE doc_id < {new}""")
        matched = self.con.sql(
            "SELECT count(*) FROM src WHERE doc_id IN (SELECT doc_id FROM docs)").fetchone()[0]
        self.con.sql("""UPDATE docs SET text = src.text, lang = src.lang,
            source = src.source, n_chars = src.n_chars FROM src
            WHERE docs.doc_id = src.doc_id""")
        self.con.sql("""INSERT INTO docs SELECT doc_id, text, lang, source,
            n_chars, false FROM src WHERE doc_id NOT IN (SELECT doc_id FROM docs)""")
        return matched, self.con.sql("SELECT count(*) FROM src").fetchone()[0] - matched

    def lookup(self, doc_id):
        return [list(r) for r in self.con.sql(
            f"SELECT doc_id, n_chars, lang, length(text) FROM docs WHERE doc_id = {doc_id}"
        ).fetchall()]

    def live_indexed(self):
        return {r[0] for r in self.con.sql(
            "SELECT doc_id FROM docs WHERE indexed").fetchall()}


def _bm25(texts, terms):
    """doc_id -> BM25 score over the corpus `texts` (doc_id -> text), as the
    fts_bm25_topk oracle computes it (whitespace tokens). The program rounds
    to 4 places; callers compare within 1.5e-4."""
    toks = {d: [t for t in x.split(" ") if t] for d, x in texts.items()}
    lens = {d: len(t) for d, t in toks.items() if t}
    n_docs, avglen = float(len(lens)), sum(lens.values()) / len(lens)
    df = {t: sum(1 for d in lens if t in toks[d]) for t in terms}
    out = {}
    for d in lens:
        s, hit = 0.0, False
        for t in terms:
            tf = toks[d].count(t)
            if tf:
                hit = True
                idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                s += idf * tf * (BM25_K1 + 1.0) / (
                    tf + BM25_K1 * (1.0 - BM25_B + BM25_B * lens[d] / avglen))
        if hit:
            out[d] = s
    return out


def topk_ok(hits, exact, k, tol):
    """Tie-aware top-k: each hit's score equals its exact score within `tol`,
    the hits are distinct, and every candidate scoring clearly above the
    k-th best is among them."""
    ids = [h[0] for h in hits]
    if len(set(ids)) != len(ids) or len(hits) != min(k, len(exact)):
        return False
    if any(h[0] not in exact or abs(h[1] - exact[h[0]]) > tol for h in hits):
        return False
    if not hits:
        return True
    kth = sorted(exact.values(), reverse=True)[len(hits) - 1]
    must = {d for d, s in exact.items() if s > kth + tol}
    return must <= set(ids) and all(exact[i] >= kth - tol for i in ids)


def check_lake(data, out):
    plan = json.load(open(os.path.join(data, "lake_plan.json")))
    stream = plan["stream"]
    docs = pq.read_table(os.path.join(data, "documents.parquet")).to_pydict()
    texts = dict(zip(docs["doc_id"], docs["text"]))
    n_docs = plan["n_docs"]
    emb = pq.read_table(os.path.join(data, "embeddings.parquet")).to_pydict()
    vec_ids = np.asarray(emb["vec_id"])
    vecs = np.asarray(emb["embedding"], dtype=np.float64)
    n_vecs = plan["n_vecs"]
    copies = round(n_docs / len(set(docs["text"])))
    n_texts, n_distinct_vecs = n_docs // copies, n_vecs // copies
    recs = _lines(os.path.join(out, "lake_steps.jsonl"))
    bad, layer = [], {"recall": [], "dup_pairs": [], "docs_kept": []}

    planted = {(t + i * n_texts, t + j * n_texts) for t in range(n_texts)
               for i in range(copies) for j in range(i + 1, copies)}
    for rnd in sorted({r["round"] for r in recs}):
        rs = [r for r in recs if r["round"] == rnd]
        model = LakeModel(data)
        by_op = {r["op"]: r for r in rs if "step" not in r}
        snaps = {r["step"]: r for r in rs if r["op"] == "snapshot"}
        steps = {r["step"]: r for r in rs if "step" in r and r["op"] != "snapshot"}
        base = model.sums()
        if snaps[-1]["sums"] != base:
            bad.append(f"round {rnd}: row count/checksum after ingest {snaps[-1]['sums']} != {base}")
        model.snapshot("v_m1")

        r = by_op["minhash_dedup"]
        if r["ok"]:
            pairs = {tuple(p) for p in r["pairs"]}
            if not planted <= pairs:
                bad.append(f"round {rnd}: minhash missed {len(planted - pairs)} planted pairs")
            extra = [p for p in pairs - planted if p[0] >= p[1] or
                     len(_shingles(texts[p[0]]) & _shingles(texts[p[1]]))
                     < 0.8 * len(_shingles(texts[p[0]]) | _shingles(texts[p[1]]))]
            if extra:
                bad.append(f"round {rnd}: minhash pair below Jaccard 0.8: {extra[:3]}")
            layer["dup_pairs"].append(len(pairs))
            layer["docs_kept"].append(n_docs - len({b for _, b in pairs}))
        r = by_op["semantic_dedup"]
        if r["ok"]:
            lab = {v: (l, k) for v, l, k in r["rows"]}
            problems = []
            if sorted(lab) != sorted(vec_ids.tolist()):
                problems.append("rows are not one per vector")
            else:
                for v, (l, k) in lab.items():
                    if lab[v % n_distinct_vecs][0] != l:
                        problems.append(f"copies of {v % n_distinct_vecs} split")
                    if k != (l == v) or l > v or not lab[l][1]:
                        problems.append(f"vector {v}: label {l} keep {k}")
            if problems:
                bad.append(f"round {rnd}: semantic dedup {problems[:3]}")
        r = by_op["kmeans"]
        if r["ok"]:
            cl = dict((v, c) for v, c in r["rows"])
            if sorted(cl) != sorted(vec_ids.tolist()) or any(
                    not 0 <= c < 8 or cl[v % n_distinct_vecs] != c for v, c in cl.items()):
                bad.append(f"round {rnd}: k-means assignment is not one cluster per vector "
                           f"shared by its copies")
        r = by_op["ivf_train"]
        if r["ok"]:
            cents = {c: np.asarray(v, dtype=np.float64) for c, v in r["centroids"]}
            cl = dict((v, c) for v, c in r["assign"])
            cm = np.stack([cents[c] for c in sorted(cents)])
            d = ((vecs[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
            best = d.min(axis=1)
            keys = sorted(cents)
            wrong = [v for i, v in enumerate(vec_ids.tolist())
                     if v not in cl or d[i, keys.index(cl[v])] > best[i] + 1e-5]
            if len(cents) != 16 or wrong:
                bad.append(f"round {rnd}: IVF assignment not nearest centroid for {wrong[:3]}")
        if not by_op["index_build"]["ok"]:
            continue
        built = {d: texts[d] for d in texts}

        fts_cache = {}
        for step, st in enumerate(stream):
            rec = steps.get(step)
            if rec is None:
                bad.append(f"round {rnd} step {step}: no output")
                continue
            op, ok = st["op"], rec["ok"]
            if op == "ann" and ok:
                q = vecs[vec_ids.tolist().index(st["vec_id"])]
                sims = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
                exact = dict(zip(vec_ids.tolist(), sims.tolist()))
                if not topk_ok(rec["hits"], exact, 10, 1.5e-4):
                    bad.append(f"round {rnd} step {step}: ANN top-10 of {st['vec_id']} wrong")
                kth = sorted(sims)[-10]
                truth = {v for v, s in exact.items() if s >= kth - 1e-6}
                layer["recall"].append(len({h[0] for h in rec["hits"]} & truth) / 10.0)
            elif op == "fts" and ok:
                key = tuple(st["terms"])
                if key not in fts_cache:
                    fts_cache[key] = _bm25(built, st["terms"])
                live = model.live_indexed()
                exact = {d: s for d, s in fts_cache[key].items() if d in live}
                if not topk_ok(rec["hits"], exact, 10, 1.5e-4):
                    bad.append(f"round {rnd} step {step}: FTS top-10 for {key} wrong")
            elif op == "scan" and ok:
                if rec["sums"] != model.sums(st["pred"]):
                    bad.append(f"round {rnd} step {step}: pruned scan {st['pred']} checksum")
            elif op == "lookup" and ok:
                if [[int(x[0]), int(x[1]), x[2], int(x[3])] for x in rec["rows"]] != \
                        model.lookup(st["doc_id"]):
                    bad.append(f"round {rnd} step {step}: lookup {st['doc_id']}")
            elif op == "timetravel" and ok:
                if rec["sums"] != model.sums(version_table=f"v_{st['at']}".replace("-", "m")):
                    bad.append(f"round {rnd} step {step}: time travel to step {st['at']}")
            elif op in ("delete", "update", "merge", "compact"):
                if op == "delete":
                    want = model.delete(st["pred"])
                    if ok and rec["count"] != want:
                        bad.append(f"round {rnd} step {step}: delete count {rec['count']} != {want}")
                elif op == "update":
                    want = model.update(st["pred"])
                    if ok and rec["count"] != want:
                        bad.append(f"round {rnd} step {step}: update count {rec['count']} != {want}")
                elif op == "merge":
                    want = model.merge(st["lo"], st["hi"], st["new"])
                    if ok and [rec["matched"], rec["inserted"]] != list(want):
                        bad.append(f"round {rnd} step {step}: merge {rec['matched']},"
                                   f"{rec['inserted']} != {want}")
                model.snapshot(f"v_{step}")
                snap = snaps.get(step)
                if snap is None or snap["sums"] != model.sums():
                    bad.append(f"round {rnd} step {step}: checksum after {op} "
                               f"{snap and snap['sums']} != {model.sums()}")
    return bad, layer


# ------------------------------------------------------------------ wire

PG_TYPES = {"int64": "bigint", "int32": "integer", "double": "double precision",
            "float": "real", "string": "text", "bool": "boolean"}


def _pg_type(t):
    t = str(t)
    if t.startswith("timestamp"):
        return "timestamp without time zone"
    return PG_TYPES.get(t, "text")


def check_wire(data, out):
    """Each statement's rows against DuckDB running the same SQL text over
    the same parquet; catalog statements against the tables and columns of
    the parquet files themselves."""
    plan = json.load(open(os.path.join(data, "wire_plan.json")))
    con = _con(data)
    schemas = {t: pq.read_schema(os.path.join(data, f"{t}.parquet")) for t in TABLES}
    want = {}
    bad = []
    for rec in _lines(os.path.join(out, "wire_results.jsonl")):
        if not rec["ok"]:
            continue
        st = plan["clients"][rec["client"]][rec["index"]]
        sql = st["sql"]
        for i, (_, v) in enumerate(st["params"]):
            sql = sql.replace(f"${i + 1}", v)
        if sql not in want:
            m = re.match(r"SELECT column_name, data_type FROM information_schema.columns "
                         r"WHERE table_name = '(\w+)'", sql)
            if m:
                s = schemas[m.group(1)]
                want[sql] = [[f.name, _pg_type(f.type)] for f in s]
            elif "information_schema.tables" in sql or "pg_catalog.pg_class" in sql:
                want[sql] = [[t] for t in sorted(TABLES)]
            else:
                want[sql] = _duck_rows(con.sql(sql))
        if not rows_match(rec["rows"], want[sql], ordered="ORDER BY" in sql):
            bad.append(f"wire client {rec['client']} stmt {rec['index']} round "
                       f"{rec['round']}: {sql[:60]}")
    return bad, {}
