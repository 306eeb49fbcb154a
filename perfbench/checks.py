"""Output checks, replayed outside the program with DuckDB and numpy.

* medallion: the raw layer must equal the final source (what a
  Full-Refresh load of it writes), and every silver_mapping, transformed_*
  and agg_* table must match a DuckDB replay of the mapping, the seven
  transforms and the A1 aggregations over the generated source, by row
  count and order-independent digest.
* corpus_ingest: each batch's curation survivors must equal a replay of
  the quality, language and length-floor gates; every document Dedup
  flags must have an exact 3-shingle Jaccard of at least 0.7 with a live
  document, and Dedup must flag nearly all documents that do; the
  exhaustive-probe serve must equal brute-force top-k over the live
  corpus; recall@10 of the approximate serve is measured against the
  same brute force.
"""

import difflib
import glob
import math
import os
import re

import duckdb
import numpy as np
import pyarrow.dataset as ds

TRIM_CHARS = " \t\n\r\x0b\x0c"


def q(name):
    return '"' + name.replace('"', '""') + '"'


def parquet_view(con, name, path):
    con.execute(f"CREATE OR REPLACE VIEW {q(name)} AS SELECT * FROM "
                f"read_parquet('{path}/*.parquet')")


def columns(con, relation):
    return [(r[0], r[1]) for r in con.execute(
        f"DESCRIBE SELECT * FROM {relation}").fetchall()]


def _canon(col, typ):
    t = typ.upper()
    c = q(col)
    if any(t.startswith(p) for p in ("TINYINT", "SMALLINT", "INTEGER",
                                     "BIGINT", "HUGEINT", "UTINYINT",
                                     "USMALLINT", "UINTEGER", "UBIGINT")):
        return f"CAST({c} AS BIGINT)"
    if t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
        return f"ROUND(CAST({c} AS DOUBLE), 6)"
    return f"CAST({c} AS VARCHAR)"


def table_digest(con, relation):
    """(column names, row count, order-independent hash) of a relation;
    values are canonicalised by type so the program's parquet and the
    replay hash alike (integers as BIGINT, floats rounded to 6 places,
    everything else as text)."""
    cols = columns(con, relation)
    exprs = ", ".join(_canon(c, t) for c, t in cols) or "1"
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({exprs})::HUGEINT), 0) "
        f"FROM {relation}").fetchone()
    return [c for c, _ in cols], int(n), int(h)


# ------------------------------------------------------------ medallion

def ratio(a, b):
    """difflib's SequenceMatcher ratio, as the engine's SchemaMatch."""
    return difflib.SequenceMatcher(None, a, b, autojunk=False).ratio()


def name_similarity(a, b):
    a, b = a.lower(), b.lower()
    return 1.0 if a == b else ratio(a, b)


def infer_key(cols1, cols2):
    best = None
    for c1 in cols1:
        for c2 in cols2:
            s = name_similarity(c1, c2)
            if s >= 0.8 and (best is None or best[2] < s):
                best = (c1, c2, s)
    return best[:2] if best else None


def merge_plan(cols):
    """The mapping stage's outputs for tables `cols` ({name: [columns]},
    in sweep order): {output: (n1, k1, n2, k2)} for joins, {output: None}
    for passthrough tables."""
    order = list(cols)
    joined = set()
    out = {}
    for n1 in order:
        for n2 in order:
            if n1 == n2 or (n1, n2) in joined:
                continue
            key = infer_key(cols[n1], cols[n2])
            if key:
                out[f"{n1}_{n2}_merged"] = (n1, key[0], n2, key[1])
                joined.update({(n1, n2), (n2, n1)})
    for n in order:
        if not any(p[0] == n for p in joined):
            out[n] = None
    return out


def is_date_column(name):
    low = name.lower()
    return "date" in low or any(ratio(low, s) > 0.7
                                for s in ("dob", "dateofbirth", "birthdate"))


def find_similar(target, cols, cutoff):
    low = [c.lower() for c in cols]
    hit = difflib.get_close_matches(target.lower(), low, n=1, cutoff=cutoff)
    return cols[low.index(hit[0])] if hit else None


def _trim(expr):
    return f"trim({expr}, '{TRIM_CHARS}')"


def transform_sql(con, relation):
    """SQL of the seven transforms, in the engine's order, over
    `relation`: distinct, drop rows with a null, impute (a no-op once
    nulls are gone and no NaN exists), trim, standardise date columns
    to yyyy-MM-dd, combine and split names."""
    cols = columns(con, relation)
    names = [c for c, _ in cols]
    not_null = " AND ".join(f"{q(c)} IS NOT NULL" for c in names) or "TRUE"
    sel = []
    for c, t in cols:
        if t == "VARCHAR":
            e = _trim(q(c))
        else:
            e = q(c)
        if is_date_column(c):
            if t.startswith("TIMESTAMP") or t == "DATE":
                e = f"strftime({q(c)}, '%Y-%m-%d')"
            elif t == "VARCHAR":
                raise NotImplementedError(f"string date column {c}")
        sel.append(f"{e} AS {q(c)}")
    base = (f"SELECT {', '.join(sel)} FROM (SELECT DISTINCT * FROM "
            f"{relation}) WHERE {not_null}")
    first = find_similar("first name", names, 0.6) or \
        find_similar("firstname", names, 0.6)
    last = find_similar("last name", names, 0.6) or \
        find_similar("lastname", names, 0.6)
    if not (first and last):
        return base
    types = dict(cols)
    for c in (first, last):
        if types[c] != "VARCHAR" and not is_date_column(c):
            raise NotImplementedError(f"non-string name column {c}")
    def side(c):
        return _trim(f"coalesce(CAST({q(c)} AS VARCHAR), '')")
    full = f"({side(first)} || ' ' || {side(last)})"
    pos = "strpos(full_name, ' ')"
    return (f"SELECT * EXCLUDE (full_name), full_name, "
            f"CASE WHEN {pos} > 0 THEN substr(full_name, 1, {pos} - 1) "
            f"ELSE full_name END AS first_name_split, "
            f"CASE WHEN {pos} > 0 THEN substr(full_name, {pos} + 1) END "
            f"AS last_name_split FROM (SELECT *, {full} AS full_name "
            f"FROM ({base}))")


AGG_FN = {"sum": "sum", "mean": "avg", "min": "min", "max": "max",
          "count": "count"}


def aggregate_sql(relation, spec):
    g = ", ".join(q(c) for c in spec["groupby"])
    aggs = ", ".join(f"{AGG_FN[f]}({q(c)}) AS {q(f'{c}_{f}')}"
                     for c in spec["aggcols"] for f in spec["funcs"])
    nn = " AND ".join(f"{q(c)} IS NOT NULL" for c in spec["groupby"])
    return (f"SELECT {g}, {aggs} FROM {relation} WHERE {nn} GROUP BY {g}")


def source_view_sql(path, table):
    """A source table as the pipeline reads it: events.ts as epoch
    nanoseconds (the engine's timestamp contract for that table)."""
    rel = f"read_parquet('{path}/{table}.parquet/*.parquet')"
    if table == "events":
        return (f"SELECT * REPLACE (CAST(epoch_us(ts) * 1000 AS BIGINT) "
                f"AS ts) FROM {rel}")
    return f"SELECT * FROM {rel}"


def replay_medallion(source, tables, aggregations, mapping=True):
    """Expected digests of every layer table, computed by DuckDB from the
    source alone. Returns {layer: {table: digest}}."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {q('raw_' + t)} AS "
                    f"{source_view_sql(source, t)}")
    expected = {"raw": {t: table_digest(con, q("raw_" + t)) for t in tables},
                "silver_mapping": {}, "silver": {}}
    cols = {t: [c for c, _ in columns(con, q("raw_" + t))] for t in tables}
    plan = merge_plan(cols) if mapping else {t: None for t in tables}
    for out, join in plan.items():
        if join is None:
            sql = f"SELECT * FROM {q('raw_' + out)}"
        else:
            n1, k1, n2, k2 = join
            sel = [f"t1.{q(k1)} AS {q(k1)}"]
            sel += [f"t1.{q(c)} AS {q(f'{c}_{n1}')}" for c in cols[n1] if c != k1]
            sel += [f"t2.{q(c)} AS {q(f'{c}_{n2}')}" for c in cols[n2] if c != k2]
            sql = (f"SELECT {', '.join(sel)} FROM {q('raw_' + n1)} t1 JOIN "
                   f"{q('raw_' + n2)} t2 ON t1.{q(k1)} = t2.{q(k2)}")
        con.execute(f"CREATE VIEW {q('sm_' + out)} AS {sql}")
        expected["silver_mapping"][out] = table_digest(con, q("sm_" + out))
        con.execute(f"CREATE VIEW {q('transformed_' + out)} AS "
                    f"{transform_sql(con, q('sm_' + out))}")
        expected["silver"]["transformed_" + out] = table_digest(
            con, q("transformed_" + out))
    for name, spec in aggregations.items():
        if name in plan:
            rel = f"({aggregate_sql(q('transformed_' + name), spec)})"
            expected["silver"]["agg_" + name] = table_digest(con, rel)
    con.close()
    return expected


def query_digests(silver, views, queries):
    """Digests of DuckDB's results of {name: sql} over silver views."""
    con = duckdb.connect()
    for v in views:
        parquet_view(con, v, f"{silver}/{v}.parquet")
    out = {name: table_digest(con, f"({sql})") for name, sql in queries.items()}
    con.close()
    return out


def layer_digests(root, layers=("raw", "silver_mapping", "silver", "gold")):
    """Digests of every table the program wrote under a layer root."""
    con = duckdb.connect()
    out = {}
    for layer in layers:
        out[layer] = {}
        for path in sorted(glob.glob(f"{root}/{layer}/*.parquet")):
            name = os.path.basename(path)[:-len(".parquet")]
            rel = f"read_parquet('{path}/*.parquet')"
            if not glob.glob(f"{path}/*.parquet"):
                out[layer][name] = None  # an empty write leaves no part
                continue
            out[layer][name] = table_digest(con, rel)
    con.close()
    return out


def compare_layers(expected, actual):
    """Mismatch messages between two {layer: {table: digest}} maps. A
    table with no part file (digest None) compares as an empty one."""
    def rows_hash(digest):
        return (0, 0) if digest is None else tuple(digest[1:])
    problems = []
    for layer, tables in expected.items():
        got = actual.get(layer, {})
        for t in sorted(set(tables) | set(got)):
            if t not in got:
                problems.append(f"{layer}/{t}: missing")
            elif t not in tables:
                problems.append(f"{layer}/{t}: unexpected table")
            elif tables[t] != got[t] and (
                    None not in (tables[t], got[t])
                    or rows_hash(tables[t]) != rows_hash(got[t])):
                problems.append(f"{layer}/{t}: expected rows/hash "
                                f"{rows_hash(tables[t])}, got "
                                f"{rows_hash(got[t])}")
    return problems


# ------------------------------------------------------------ corpus

def read_vectors(path, exclude=()):
    t = ds.dataset(path, format="parquet").to_table(
        columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    keep = ~np.isin(ids, np.asarray(list(exclude), dtype=np.int64))
    return ids[keep], vecs[keep]


def brute_force(q_ids, q_vecs, ids, vecs, k):
    """Exact cosine top-k per query: {query: [(score, id), ...]} sorted
    best first, ties by id."""
    qn = q_vecs / np.linalg.norm(q_vecs, axis=1, keepdims=True)
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = qn @ vn.T
    out = {}
    for qi, row in zip(q_ids, sims):
        order = np.lexsort((ids, -row))[:k + 5]
        out[int(qi)] = [(float(row[j]), int(ids[j])) for j in order]
    return out


def exact_topk_matches(served, truth, k, tol=1e-5):
    """Queries whose served top-k differs from brute force. A served id
    may stand in for another only when their scores tie within `tol` at
    the k-th place (float accumulation order differs)."""
    got = {}
    for qid, nid, _rank in served:
        got.setdefault(int(qid), set()).add(int(nid))
    bad = []
    for qid, ranked in truth.items():
        kth = ranked[k - 1][0]
        must = {i for s, i in ranked[:k] if s > kth + tol}
        may = {i for s, i in ranked if s >= kth - tol}
        ids = got.get(qid, set())
        if len(ids) != k or not must <= ids or not ids <= may:
            bad.append(qid)
    return bad


def recall_at_k(served, truth, k):
    got = {}
    for qid, nid, _rank in served:
        got.setdefault(int(qid), set()).add(int(nid))
    hits = sum(len(got.get(qid, set()) & {i for _, i in ranked[:k]})
               for qid, ranked in truth.items())
    return hits / (k * len(truth))


# The gates of Curation.run, replayed per document: TextAnalysis's
# quality score (mean token length in [3, 12], punctuation share at most
# 0.1, stopword share at least 0.05; each worth a third), the language
# gate and Sampling.quantileFloor's length floor (drop documents at or
# below the k-th smallest token count of the gated ones, k = ceil(n *
# num / den)). The same rules as the DuckDB oracle of the repository's
# `ns_curation_config` query.
STOPWORDS = {"the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
             "that", "for", "on", "with", "as", "at", "by", "be", "this"}


def quality_score(text):
    words = re.split(r"\s+", text.strip(" ")) if text.strip(" ") else []
    nc, nt = len(text), len(words)
    n_punct = sum(text.count(c) for c in ".,;:!?")
    n_stop = sum(1 for w in text.lower().strip(" ").split() if w in STOPWORDS)
    mean_tok = nc / nt if nt else 0.0
    ok = ((3 <= mean_tok <= 12) + ((n_punct / nc if nc else 0.0) <= 0.1)
          + ((n_stop / nt if nt else 0.0) >= 0.05))
    return round(ok / 3, 4), nt


def curation_survivors(docs, config):
    """doc_ids Curation.run keeps of `docs` ({doc_id, text, lang}
    lists) under `config` (min_quality, langs, length_floor "num/den")."""
    gated = []
    for did, text, lang in zip(docs["doc_id"], docs["text"], docs["lang"]):
        q, nt = quality_score(text)
        if q >= config["min_quality"] and lang in config["langs"]:
            gated.append((int(did), nt))
    num, den = (int(x) for x in config["length_floor"].split("/"))
    if not gated:
        return set()
    k = math.ceil(len(gated) * num / den)
    thr = sorted(nt for _, nt in gated)[k - 1]
    return {did for did, nt in gated if nt > thr}


def shingles(text, n=3):
    """Dedup's word n-gram set: lower-cased, trimmed, split on white
    space; a text shorter than n words is one gram."""
    words = text.lower().strip().split()
    return {" ".join(words[i:i + n])
            for i in range(max(1, len(words) - n + 1))}


class ShingleIndex:
    """Exact best 3-shingle Jaccard of a text against a changing set of
    documents, through an inverted index of their shingles."""

    def __init__(self):
        self.sets = {}
        self.postings = {}

    def add(self, doc_id, text):
        s = shingles(text)
        self.sets[doc_id] = s
        for g in s:
            self.postings.setdefault(g, set()).add(doc_id)

    def remove(self, doc_id):
        for g in self.sets.pop(doc_id, ()):
            self.postings[g].discard(doc_id)

    def best_jaccard(self, text):
        s = shingles(text)
        shared = {}
        for g in s:
            for d in self.postings.get(g, ()):
                shared[d] = shared.get(d, 0) + 1
        return max((c / (len(s) + len(self.sets[d]) - c)
                    for d, c in shared.items()), default=0.0)


DEDUP_THRESHOLD = 0.7
# MinHash-LSH may miss a true near-duplicate now and then (16 hashes in 8
# bands, plus an estimate screen); at the Jaccard of the planted pairs
# (>= 8/9) a miss is rare, so a run must catch nearly all of them
DEDUP_MIN_RECALL = 0.95


def check_ingest(base_docs, batches, takedown, config):
    """Problems in what the ingest recorded per batch, as (batch index,
    message); the index is None for a problem of the whole run.
    `base_docs` and each batch's "docs" are {doc_id, text, lang} lists;
    each batch also holds the recorded "kept" (Curation.run's ids) and
    "near_dups" (Dedup's flagged ids), in ingest order. The live corpus
    Dedup ran against is rebuilt the way the ingest grew it: base, plus
    each batch's accepted documents, minus each batch's takedown
    slice."""
    live = ShingleIndex()
    for did, text in zip(base_docs["doc_id"], base_docs["text"]):
        live.add(int(did), text)
    problems = []
    found = flagged_true = 0
    for b, batch in enumerate(batches):
        docs = batch["docs"]
        kept = set(batch["kept"])
        want = curation_survivors(docs, config)
        if kept != want:
            problems.append((b, f"batch {b}: curation kept {len(kept)} "
                                f"documents, the replay {len(want)} "
                                f"({len(kept ^ want)} differ)"))
        text = dict(zip((int(d) for d in docs["doc_id"]), docs["text"]))
        near = {d for d in kept if d in text
                and live.best_jaccard(text[d]) >= DEDUP_THRESHOLD}
        flagged = set(batch["near_dups"])
        false = flagged - near
        if false:
            problems.append((b, f"batch {b}: dedup flagged {len(false)} "
                                f"documents with no live document at "
                                f"Jaccard >= {DEDUP_THRESHOLD}"))
        found += len(near)
        flagged_true += len(flagged & near)
        for d in (kept - flagged) & text.keys():
            live.add(d, text[d])
        for d in takedown[b]:
            live.remove(d)
    if found and flagged_true < DEDUP_MIN_RECALL * found:
        problems.append((None, f"dedup flagged {flagged_true} of {found} "
                                f"near-duplicates (Jaccard >= "
                                f"{DEDUP_THRESHOLD})"))
    return problems
