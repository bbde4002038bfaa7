"""Seeded synthetic source tables for the benchmark.

Writes the TPC-H-ish star schema the pipeline reads (region, nation,
customer, supplier, part, orders, lineitem) and the LLM corpus tables
(documents, embeddings) as parquet, with the column names and types that
``dbt_jaffleshop_spark.sources.TESTDATA_TABLES`` declares. The same seed
gives the same rows; nothing here touches Spark.

Row counts and value distributions copy those of the sf0.1 test tables
(TESTDATA.md), as measured from them: every key and value is drawn
uniformly and independently — ``l_orderkey`` over all orders (so an
order's line count is about Poisson(4), some orders have none and
``(l_orderkey, l_linenumber)`` is not unique), ``l_suppkey`` over all
suppliers whatever the part, ``l_shipdate`` over the whole calendar
rather than after its order, ``o_orderdate`` over the days from
``FIRST_DAY`` to ``LAST_DAY``. ``scale`` multiplies the sf0.1 row counts
of customer, supplier, part, orders and lineitem (1.0 gives sf0.1's
150,000 orders and 600,000 line items). The one departure: sf0.1's last
order day is the first of a month, so the newest month here ends on
``LAST_DAY`` and is complete, a clean delta for the refresh workload.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST_DAY = np.datetime64("1995-01-01")
LAST_DAY = np.datetime64("2001-07-31")
FIRST_MONTH = FIRST_DAY.astype("datetime64[M]")
LAST_MONTH = LAST_DAY.astype("datetime64[M]")
SHIP_FIRST, SHIP_LAST = np.datetime64("1995-01-02"), np.datetime64("2001-11-04")

# sf0.1 row counts
N_CUSTOMERS = 15_000
N_SUPPLIERS = 1_000
N_PARTS = 20_000
N_ORDERS = 150_000
LINES_PER_ORDER = 4

# the sf0.1 corpus: a 30-word vocabulary drawn uniformly, 10-100 words
# per document, 5% near-duplicates (another document plus the word
# "dup") and 0.16% exact copies; 64-dimensional unit vectors with no
# cluster structure and 10 uniform labels
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMB_DIM = 64
EMB_LABELS = 10


def _table(cols: dict, schema: pa.Schema) -> pa.Table:
    return pa.Table.from_pydict(cols, schema=schema)


def _days(rng, lo, hi, n: int) -> np.ndarray:
    """``n`` uniform days in [lo, hi], as microsecond timestamps."""
    span = int((hi - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n).astype("timedelta64[D]")).astype("datetime64[us]")


def star_schema(seed: int, scale: float) -> dict[str, pa.Table]:
    """The seven pipeline source tables for ``seed`` at ``scale`` x sf0.1."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part, n_ord = (max(1, round(n * scale)) for n in
                                     (N_CUSTOMERS, N_SUPPLIERS, N_PARTS, N_ORDERS))
    n_line = LINES_PER_ORDER * n_ord
    region = _table(
        {"r_regionkey": np.arange(5, dtype=np.int32),
         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    )
    nation = _table(
        {"n_nationkey": np.arange(25, dtype=np.int32),
         "n_name": [f"NATION_{i}" for i in range(25)],
         "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())]),
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = _table(
        {"c_custkey": np.arange(n_cust, dtype=np.int64),
         "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
         "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
         "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
         "c_mktsegment": segments[rng.integers(0, 5, n_cust)]},
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]),
    )
    supplier = _table(
        {"s_suppkey": np.arange(n_supp, dtype=np.int64),
         "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
         "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
         "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
        pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    )
    adjectives = np.array(["small", "large", "red", "blue", "hot", "cold", "old", "shiny"])
    nouns = np.array(["ring", "bolt", "plate", "gear", "widget", "nut", "spring", "valve"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    part = _table(
        {"p_partkey": np.arange(n_part, dtype=np.int64),
         "p_name": np.char.add(np.char.add(adjectives[rng.integers(0, 8, n_part)], " "),
                               nouns[rng.integers(0, 8, n_part)]),
         "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
         "p_type": types[rng.integers(0, 6, n_part)],
         "p_size": rng.integers(1, 51, n_part).astype(np.int32),
         "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)},
        pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
    )
    statuses = np.array(["F", "O", "P"])
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = _table(
        {"o_orderkey": np.arange(n_ord, dtype=np.int64),
         "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
         "o_orderstatus": statuses[rng.integers(0, 3, n_ord)],
         "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
         "o_orderdate": _days(rng, FIRST_DAY, LAST_DAY, n_ord),
         "o_orderpriority": priorities[rng.integers(0, 5, n_ord)]},
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]),
    )
    lineitem = _table(
        {"l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
         "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
         "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
         "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
         "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
         "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
         "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
         "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
         "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
         "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
         "l_shipdate": _days(rng, SHIP_FIRST, SHIP_LAST, n_line)},
        pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("us"))]),
    )
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def corpus(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """``documents`` and ``embeddings`` for ``seed``, shaped like the
    sf0.1 corpus (see ``WORDS``): 5% of documents (``n_docs // 20``)
    repeat another document with " dup" appended, ``n_docs // 625`` are
    exact copies, and the vectors are unit Gaussian with uniform labels."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, n_docs)]
    n_near, n_exact = n_docs // 20, n_docs // 625
    slots = rng.permutation(n_docs)
    near, exact, plain = (slots[:n_near], slots[n_near:n_near + n_exact],
                          slots[n_near + n_exact:])
    for i in near:
        texts[i] = texts[plain[rng.integers(0, len(plain))]] + " dup"
    for i in exact:
        texts[i] = texts[plain[rng.integers(0, len(plain))]]
    documents = _table(
        {"doc_id": np.arange(n_docs, dtype=np.int64),
         "text": texts,
         "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
         "source": [f"src{i % 20}" for i in range(n_docs)],
         "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                   ("source", pa.string()), ("n_chars", pa.int64())]),
    )
    vecs = rng.normal(size=(n_vecs, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = _table(
        {"vec_id": np.arange(n_vecs, dtype=np.int64),
         "embedding": list(vecs),
         "label": rng.integers(0, EMB_LABELS, n_vecs).astype(np.int32)},
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]),
    )
    return {"documents": documents, "embeddings": embeddings}


def split_newest_month(tables: dict[str, pa.Table]) -> tuple[dict, dict]:
    """(history, delta): orders of ``LAST_MONTH`` and their line items
    are the delta; everything else is history."""
    od = tables["orders"].column("o_orderdate").to_numpy()
    new = od.astype("datetime64[M]") == LAST_MONTH
    new_keys = tables["orders"].column("o_orderkey").to_numpy()[new]
    li_new = np.isin(tables["lineitem"].column("l_orderkey").to_numpy(), new_keys)
    history = dict(tables)
    history["orders"] = tables["orders"].filter(pa.array(~new))
    history["lineitem"] = tables["lineitem"].filter(pa.array(~li_new))
    delta = {"orders": tables["orders"].filter(pa.array(new)),
             "lineitem": tables["lineitem"].filter(pa.array(li_new))}
    return history, delta


def write(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write each table as ``<out_dir>/<name>.parquet``; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        total += os.path.getsize(path)
    return total
