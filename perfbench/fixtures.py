"""Seeded fixture generator for the perfbench workloads.

The same seed always gives the same files. Shapes follow the repo's
fixture corpus (FIXTURES.md): a TPC-H-like star schema, word-salad
documents with planted near-duplicates, and labelled unit embeddings.
Nothing here calls graft, so the fixtures are independent of the code
under test.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Fixture sizes. "full" is what the benchmark measures; "tiny" is the
# self-test's. query_sf scales the star schema and the text tables
# (sf 1 = 6M lineitem rows); lake_* shape the lake_sync tree;
# meta_* the lake_metadata tree.
SIZES = {
    "full": dict(query_sf=0.005, lake_sf=0.02, lake_months=5, lake_files_per_month=3,
                 lake_table_sf=0.05, meta_folders=100, meta_files_per_folder=4),
    "tiny": dict(query_sf=0.002, lake_sf=0.005, lake_months=4, lake_files_per_month=3,
                 lake_table_sf=0.005, meta_folders=5, meta_files_per_folder=4),
}

WORDS = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
LANGS, LANG_P = ["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14]
NATIONS, REGIONS = 25, ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = "large small hot cold blue red green shiny".split()
PART_NOUN = "ring bolt nut gear pipe valve screw spring".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
QUERY_DATA_SEED = 42
US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first, span, n):
    return pa.array(EPOCH_1995 + (first + rng.integers(0, span, n)) * US_PER_DAY, pa.timestamp("us"))


def star_schema(rng, sf):
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), max(10, int(10_000 * sf))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(NATIONS)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, NATIONS, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, NATIONS, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, 1, 2499, n_li)})
    return t


def text_tables(rng, sf):
    n_docs, n_vec = int(50_000 * sf), int(20_000 * sf)
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")  # planted near-duplicate
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    v = rng.normal(0.0, 1.0, (n_vec, 64)) + 0.6 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return {"documents": docs, "embeddings": emb}


def query_data(out, seed, size):
    """<out>/<table>.parquet, one file per table as in the repo's corpus.
    The tables are the same for every seed (the workload's seed orders the
    queries): the iterative queries' round counts depend on the data, and
    a per-seed corpus would make their cost vary from run to run."""
    rng = np.random.default_rng([QUERY_DATA_SEED, 1])
    sf = SIZES[size]["query_sf"]
    os.makedirs(out, exist_ok=True)
    for name, table in {**star_schema(rng, sf), **text_tables(rng, sf)}.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def lake_tree(out, seed, size):
    """<out>/src/lineitem/year=Y/month=MM/part-k.parquet (small files over
    two partition levels) plus <out>/src/tables/<name>/<name>.parquet
    (large files); <out>/promo_{src,trg}/ym=Y-MM/part-0.parquet are the
    two partitioned tables promotion copies between (src's quantities
    doubled, so a promoted partition is visible).
    """
    cfg = SIZES[size]
    rng = np.random.default_rng([seed, 2])
    li = star_schema(rng, cfg["lake_sf"])["lineitem"]
    ship = li.column("l_shipdate").to_numpy().astype("datetime64[M]")
    month_idx = (ship - np.datetime64("1995-01", "M")).astype(np.int64)
    for m in range(cfg["lake_months"]):
        rows = li.filter(pa.array(month_idx == m))
        year, month = 1995 + m // 12, m % 12 + 1
        leaf = os.path.join(out, "src", "lineitem", f"year={year}", f"month={month:02d}")
        os.makedirs(leaf)
        for table, qty in (("promo_src", 2.0), ("promo_trg", 1.0)):
            part = os.path.join(out, table, f"ym={year}-{month:02d}")
            os.makedirs(part)
            doubled = pc.multiply(rows.column("l_quantity"), qty)
            pq.write_table(rows.set_column(rows.schema.get_field_index("l_quantity"), "l_quantity", doubled),
                           os.path.join(part, "part-000.parquet"))
        k = cfg["lake_files_per_month"]
        for i in range(k):
            pq.write_table(rows.slice(i * len(rows) // k, (i + 1) * len(rows) // k - i * len(rows) // k),
                           os.path.join(leaf, f"part-{i:03d}.parquet"))
    big = star_schema(rng, cfg["lake_table_sf"])
    for name in ("orders", "customer", "part"):
        os.makedirs(os.path.join(out, "src", "tables", name))
        pq.write_table(big[name], os.path.join(out, "src", "tables", name, f"{name}.parquet"))


def meta_tree(out, seed, size):
    """<out>/dNNN/fNNNNN.bin: tiny files in a few dozen folders."""
    cfg = SIZES[size]
    rng = np.random.default_rng([seed, 3])
    n = cfg["meta_folders"] * cfg["meta_files_per_folder"]
    folder_of = rng.permutation(np.arange(n) % cfg["meta_folders"])
    for d in range(cfg["meta_folders"]):
        os.makedirs(os.path.join(out, f"d{d:03d}"))
    for i in range(n):
        with open(os.path.join(out, f"d{folder_of[i]:03d}", f"f{i:05d}.bin"), "wb") as f:
            f.write(bytes(64))


def generate(workload, work, seed, size):
    """(Re)create the workload's fixture under work/."""
    make, sub = {"query_mix": (query_data, "data"), "lake_sync": (lake_tree, "lake"),
                 "lake_metadata": (lambda out, *a: meta_tree(os.path.join(out, "tree"), *a), "meta")}[workload]
    shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    make(os.path.join(work, sub), seed, size)
