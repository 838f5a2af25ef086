"""Seeded input generator for the benchmark workloads.

Writes the parquet fixture schemas of FIXTURES.md section 2 -- region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings --
one parquet file per table, so every registry query and its DuckDB oracle
applies unchanged. Each file holds several row groups, so a scan can be
split across the local cores. The same seed always gives the same bytes.

Every workload gets all ten tables (the oracle check creates a view on each);
the tables a workload does not exercise are written at a token size.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit of scale factor, TPC-H proportions
STAR_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}

# (star scale factor, documents, embeddings) per workload
SIZES = {
    "etl": (0.1, 200, 200),
    "curation": (0.001, 600, 200),
    "dialect": (0.0005, 100, 100),
}

ROW_GROUPS = 8  # per table, so a scan has work for every core
# Largest planted duplicate cluster. A cluster of k documents yields k^2/2
# near-duplicate pairs and the DuckDB oracle of d06 walks k^3 paths.
MAX_CLUSTER = 25

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "green", "small", "large", "steel", "brass", "plain"]
PART_NOUN = ["anvil", "widget", "ring", "gear", "bolt", "nut", "spring", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "a", "for", "with", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "den"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "fr": ["le", "la", "les", "des", "est", "et", "dans", "une", "pour"],
    "zh": ["数据", "查询", "表格", "分区", "连接"],
}
CONTENT = ("key agg row scan slow fast table value part hash merge batch spark "
           "line sort window data column order query customer stream filter "
           "join group big small vector index shard cache plan stage task "
           "client worker memory disk network record field schema format "
           "parser token model score rank graph edge node cluster").split()

EPOCH_US = np.datetime64("1970-01-01", "us")


def _day_us(day: str) -> int:
    return int((np.datetime64(day, "us") - EPOCH_US).astype(np.int64))


def _days(rng, n, lo, hi):
    """Whole-day timestamps in [lo, hi] as timestamp[us]."""
    d0, d1 = _day_us(lo) // 86_400_000_000, _day_us(hi) // 86_400_000_000
    days = rng.integers(d0, d1 + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def star(rng, sf):
    n = {k: max(10, int(v * sf)) for k, v in STAR_ROWS.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": _pick(rng, names, npart),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, npart) / 10.0, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04")})
    ne = n["events"]
    # Zipf-skewed user_id: a few users own a large share of the events, so
    # per-user partitions (take per key, transform) are uneven
    nu = max(10, nc)
    weights = 1.0 / np.arange(1, nu + 1) ** 1.1
    users = rng.permutation(nu)[rng.choice(nu, ne, p=weights / weights.sum())]
    start = _day_us("2024-01-01")
    ts = start + rng.integers(0, 30 * 86_400_000_000, ne)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(60.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string())})
    return out


def _doc_words(rng, lang, n):
    stop = STOPWORDS[lang]
    words = np.asarray(CONTENT, dtype=object)[rng.integers(0, len(CONTENT), n)]
    mask = rng.random(n) < 0.25
    words[mask] = np.asarray(stop, dtype=object)[rng.integers(0, len(stop), mask.sum())]
    return list(words)


def documents(rng, n):
    """Corpus with planted duplicate clusters of Zipf sizes: a few large
    clusters dominate the candidate pairs of the near-duplicate operators.
    A cluster is either exact copies of a base document, or the base plus
    copies with one word in 25 replaced (3-shingle Jaccard 0.6 to 0.8 to the
    base, around the 0.5 threshold of the near-duplicate operators)."""
    texts, langs = [], []
    while len(texts) < n:
        size = int(min(rng.zipf(1.7), MAX_CLUSTER, n - len(texts)))
        lang = LANGS[rng.integers(0, len(LANGS))]
        base = _doc_words(rng, lang, int(rng.integers(60, 160)))
        exact = rng.random() < 0.3
        for member in range(size):
            words = list(base)
            if member > 0 and not exact:
                for j in rng.choice(len(words), len(words) // 25, replace=False):
                    words[j] = CONTENT[rng.integers(0, len(CONTENT))]
            texts.append(" ".join(words))
            langs.append(lang)
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    langs = [langs[i] for i in order]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, n, dim=64, k=10):
    """Clustered unit-scale vectors: label = the cluster a vector came from."""
    centers = rng.normal(0.0, 1.0, (k, dim))
    labels = rng.integers(0, k, n)
    vecs = (centers[labels] + 0.35 * rng.normal(0.0, 1.0, (n, dim))) / np.sqrt(dim)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(n + 1) * dim, pa.int32()), flat),
        "label": pa.array(labels, pa.int32())})


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write all ten tables for `workload` into `out_dir`; return the record
    of seed, scale and per-table sizes (also written as inputs.json)."""
    sf, ndocs, nemb = SIZES[workload]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    tables = star(rng, sf)
    tables["documents"] = documents(rng, ndocs)
    tables["embeddings"] = embeddings(rng, nemb)
    os.makedirs(out_dir, exist_ok=True)
    record = {"workload": workload, "seed": seed, "sf": sf, "tables": {}}
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        rg = max(1, -(-tbl.num_rows // ROW_GROUPS))
        pq.write_table(tbl, path, row_group_size=rg)
        record["tables"][name] = {
            "rows": tbl.num_rows, "row_groups": pq.ParquetFile(path).num_row_groups,
            "bytes": os.path.getsize(path)}
    with open(os.path.join(out_dir, "inputs.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    return record
