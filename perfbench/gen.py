"""Seeded input generator for the benchmark.

Everything a run feeds the program comes from here, from one integer
seed: the e-commerce star source of the medallion workload
(the eight TPC-H-shaped tables of the repository's test data) and the
document/embedding corpus of the ingest workload. The same seed always
gives byte-identical inputs.

The fact tables (orders, lineitem, events) are cut into a base plus
growth batches whose keys lie past the base watermark (the first column
of each table), so an Incremental Load of batch i picks up exactly
batch i.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = ["region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events"]
FACT_TABLES = ["orders", "lineitem", "events"]
DIM_TABLES = [t for t in STAR_TABLES if t not in FACT_TABLES]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "green", "large", "shiny", "dull"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "valve", "spring", "pipe"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "cart", "buy", "error"]

EPOCH_1995_MS = 788918400000          # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1704067200000000      # 2024-01-01T00:00:00Z
DAY_MS = 86400000


def _write(table, path):
    """One table as a parquet directory holding a single part file."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def _pad(rng, values, share):
    """Surround a seeded share of the strings with ASCII whitespace, so
    the Trim Whitespace transform has work to do."""
    out = list(values)
    for i in np.nonzero(rng.random(len(out)) < share)[0]:
        out[i] = "  " + out[i] + " \t"
    return out


def star_tables(seed, sf):
    """The eight star tables at scale factor `sf` (sf 0.001 = 6000
    lineitem rows). Returns {name: pyarrow.Table}, fact tables sorted by
    their watermark column."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(30, int(150000 * sf))
    n_supp = max(5, int(10000 * sf))
    n_part = max(40, int(200000 * sf))
    n_orders = max(300, int(1500000 * sf))
    n_events = max(200, int(1000000 * sf))

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": _pad(rng, rng.choice(SEGMENTS, n_cust).tolist(),
                             0.05)})
    supplier = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    part = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": _pad(rng, [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(PART_ADJ), n_part),
            rng.integers(0, len(PART_NOUN), n_part))], 0.05),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)})

    order_days = rng.integers(0, 7 * 365, n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": pa.array(EPOCH_1995_MS + order_days * DAY_MS,
                                pa.timestamp("ms")),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders).tolist()})

    lines_per_order = rng.integers(1, 8, n_orders)
    l_orderkey = np.repeat(np.arange(n_orders), lines_per_order)
    n_lines = len(l_orderkey)
    l_linenumber = np.concatenate([np.arange(1, k + 1)
                                   for k in lines_per_order])
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_lines), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lines) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_lines).tolist(),
        "l_shipdate": pa.array(
            EPOCH_1995_MS + (np.repeat(order_days, lines_per_order)
                             + rng.integers(1, 120, n_lines)) * DAY_MS,
            pa.timestamp("ms"))})

    # events: ~2% of rows lose their props (Remove Null Rows) and ~2% are
    # exact duplicates of their predecessor (Remove Duplicates); the
    # duplicate shares the event_id, so both copies land in one batch
    ev_id = np.arange(n_events)
    dup = rng.random(n_events) < 0.02
    dup[0] = False
    ev_id = np.maximum.accumulate(np.where(dup, -1, ev_id))
    ts = EPOCH_2024_US + np.cumsum(rng.integers(1, 400_000_000, n_events))
    props = [None if r < 0.02 else json.dumps({"k": int(k)})
             for r, k in zip(rng.random(n_events),
                             rng.integers(0, 100, n_events))]
    users = rng.integers(0, 100, n_events)
    etype = rng.choice(EVENT_TYPES, n_events)
    value = np.round(rng.uniform(0, 20, n_events), 2)
    src = np.maximum.accumulate(np.where(dup, 0, np.arange(n_events)))
    events = pa.table({
        "event_id": pa.array(ev_id, pa.int64()),
        "ts": pa.array(ts[src], pa.timestamp("us")),
        "user_id": pa.array(users[src], pa.int64()),
        "event_type": etype[src].tolist(),
        "value": value[src],
        "props": [props[i] for i in src]})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events}


def split_facts(tables, n_batches, growth_share):
    """Cut each fact table into a base and `n_batches` growth batches
    along its watermark column: the base keeps the lowest keys, batch i
    the next slice. Lineitem follows its orders (its watermark column is
    l_orderkey), so no order's lines straddle a batch boundary."""
    n_orders = tables["orders"].num_rows
    order_cuts = np.linspace(n_orders * (1 - growth_share), n_orders,
                             n_batches + 1).astype(np.int64)
    order_cuts[-1] = n_orders
    events = tables["events"]
    ev_keys = events.column("event_id").to_numpy()
    n_ev = int(ev_keys.max()) + 1
    ev_cuts = np.linspace(n_ev * (1 - growth_share), n_ev,
                          n_batches + 1).astype(np.int64)
    ev_cuts[-1] = n_ev

    def cut(table, keys, cuts):
        bounds = [-1, *cuts]
        return [table.filter(pa.array((keys >= lo) & (keys < hi)))
                for lo, hi in zip(bounds, bounds[1:])]

    okeys = tables["orders"].column("o_orderkey").to_numpy()
    lkeys = tables["lineitem"].column("l_orderkey").to_numpy()
    return {"orders": cut(tables["orders"], okeys, order_cuts),
            "lineitem": cut(tables["lineitem"], lkeys, order_cuts),
            "events": cut(events, ev_keys, ev_cuts)}


def write_star(seed, sf, out_dir, n_batches, growth_share):
    """Write the base source to out_dir/source and the growth batches to
    out_dir/batches/<i>/."""
    tables = star_tables(seed, sf)
    parts = split_facts(tables, n_batches, growth_share)
    src = os.path.join(out_dir, "source")
    for name in DIM_TABLES:
        _write(tables[name], os.path.join(src, f"{name}.parquet"))
    for name in FACT_TABLES:
        _write(parts[name][0], os.path.join(src, f"{name}.parquet"))
        for i in range(n_batches):
            d = os.path.join(out_dir, "batches", str(i), f"{name}.parquet")
            os.makedirs(d, exist_ok=True)
            pq.write_table(parts[name][i + 1],
                           os.path.join(d, f"part-{i + 1:05d}.parquet"))


def dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------- corpus
#
# The corpus follows the repository's sf0.1 `documents` and `embeddings`
# test tables (5000 documents, 2000 vectors; README.md, "Corpus
# traffic", gives the measured figures):
#   * text: a uniform draw from one shared 30-word vocabulary, 10 to 100
#     words long, whatever the language tag;
#   * lang: en 41.2%, zh 15.1%, es 14.9%, fr 14.8%, de 14.0%;
#   * source: 20 sources, equally often;
#   * near-duplicates: 5% of documents are another document's text with
#     " dup" appended (3-shingle Jaccard 8/9 to 98/99), their lang and
#     source drawn afresh;
#   * vectors: unit vectors drawn uniformly from the 64-dim sphere (the
#     fixture's ten labels carry no geometry: each label's mean vector
#     has norm 0.06-0.07, what ~200 random unit vectors give).
# The benchmark keys a document and its vector by one id, so an ingested
# document brings its vector along.

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_SHARE = [2059, 753, 744, 742, 702]  # of the fixture's 5000 documents
SOURCES = [f"src{i}" for i in range(20)]
MIN_WORDS, MAX_WORDS = 10, 100
NEAR_DUP_SHARE = 0.05
DIM = 64


def _docs(rng, ids):
    n = len(ids)
    share = np.asarray(LANG_SHARE, np.float64)
    langs = rng.choice(LANGS, n, p=share / share.sum())
    texts = [" ".join(rng.choice(VOCAB, k))
             for k in rng.integers(MIN_WORDS, MAX_WORDS + 1, n)]
    return {"doc_id": ids, "text": texts, "lang": langs.tolist(),
            "source": rng.choice(SOURCES, n).tolist(),
            "n_chars": [len(t) for t in texts]}


def _vectors(rng, n):
    v = rng.normal(0, 1, (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def _emb_table(ids, vecs):
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32()))})


def write_corpus(seed, n_base, n_batches, batch_docs, n_queries, takedown,
                 out_dir):
    """Base corpus (documents + embeddings keyed by the same id), the
    ingest batches, the serve queries and the takedown slices.

    Each batch holds fresh documents plus near-duplicates of base
    documents (NEAR_DUP_SHARE of the batch), which Dedup should flag.
    Takedown slice i lists the `takedown` base ids batch i removes.
    Query ids lie far past every corpus id. Every part draws from its
    own stream of the seed, so batch i and the queries do not depend on
    how many batches are written."""
    def rng(*part):
        return np.random.default_rng([seed, 2, *part])
    base_ids = np.arange(n_base, dtype=np.int64)
    base_docs = _docs(rng(0), base_ids)
    _write(pa.table(base_docs), os.path.join(out_dir, "documents.parquet"))
    _write(_emb_table(base_ids, _vectors(rng(1), n_base)),
           os.path.join(out_dir, "embeddings.parquet"))
    n_dup = round(batch_docs * NEAR_DUP_SHARE)
    for b in range(n_batches):
        r = rng(3, b)
        first = n_base + b * batch_docs
        ids = np.arange(first, first + batch_docs, dtype=np.int64)
        docs = _docs(r, ids)
        # the batch's last n_dup documents copy a base text plus " dup"
        for j, orig in zip(range(batch_docs - n_dup, batch_docs),
                           r.choice(n_base, n_dup, replace=False)):
            docs["text"][j] = base_docs["text"][orig] + " dup"
            docs["n_chars"][j] = len(docs["text"][j])
        bdir = os.path.join(out_dir, "batches", str(b))
        _write(pa.table(docs), os.path.join(bdir, "documents.parquet"))
        _write(_emb_table(ids, _vectors(r, batch_docs)),
               os.path.join(bdir, "embeddings.parquet"))
    q_ids = np.arange(10**9, 10**9 + n_queries, dtype=np.int64)
    _write(_emb_table(q_ids, _vectors(rng(4), n_queries)),
           os.path.join(out_dir, "queries.parquet"))
    # disjoint slices: an id is taken down at most once
    perm = rng(5).permutation(n_base)
    slices = [sorted(perm[i * takedown:(i + 1) * takedown].tolist())
              for i in range(n_batches)]
    with open(os.path.join(out_dir, "takedown.json"), "w") as f:
        json.dump(slices, f)
