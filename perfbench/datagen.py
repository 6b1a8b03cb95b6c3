"""Seeded input tables for the benchmark.

`write_tables(dir, seed)` writes the ten tables the registry queries read
(`graft.Tables.all`), one parquet file each with one row group, at the
sizes and value domains of the engine's sf0.1 test data (17 MB of
parquet): lineitem 600k rows, orders 150k, customer 15k, events 100k,
documents 5k (5 % planted near-duplicates), embeddings 2k x 64.
The same seed always yields the same bytes.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
N_CUSTOMER = int(150_000 * SF)
N_SUPPLIER = int(10_000 * SF)
N_PART = int(200_000 * SF)
N_ORDERS = int(1_500_000 * SF)
N_LINEITEM = int(6_000_000 * SF)
N_EVENTS = 100_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base, offsets):
    return base + offsets.astype("timedelta64[D]").astype("timedelta64[us]")


def write_parquet(path, columns, schema):
    table = pa.Table.from_arrays(
        [pa.array(columns[f.name], type=f.type) for f in schema], schema=schema)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def lineitem_columns(rng, n):
    """Lineitem rows; shared by the base table and the append pool."""
    return {
        "l_orderkey": rng.integers(0, N_ORDERS, n),
        "l_partkey": rng.integers(0, N_PART, n),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(EPOCH_1995 + np.timedelta64(1, "D"), rng.integers(0, 2499, n)),
    }


def orders_columns(rng, keys):
    n = len(keys)
    return {
        "o_orderkey": np.asarray(keys, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(EPOCH_1995, rng.integers(0, 2405, n)),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    }


def customer_columns(rng, keys):
    n = len(keys)
    keys = np.asarray(keys, dtype=np.int64)
    return {
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    }


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


def _documents(rng):
    n = N_DOCUMENTS
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(vocab[words[pos:pos + ln]]))
        pos += ln
    # Planted near-duplicates: 5 % of documents copy another document's
    # text and append one token, so the dedup rows have real work.
    dups = rng.choice(n, n // 20, replace=False)
    for d in dups:
        texts[d] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng):
    v = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": [row for row in v],
        "label": rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32),
    }


def _events(rng):
    n = N_EVENTS
    ts = np.sort(rng.integers(0, 30 * DAY_US, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EPOCH_2024 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def write_tables(out_dir, seed):
    rng = np.random.default_rng([seed, 0])
    part_keys = np.arange(N_PART, dtype=np.int64)
    cols = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": customer_columns(rng, np.arange(N_CUSTOMER)),
        "supplier": {"s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
                     "s_name": [f"Supplier#{k:09d}" for k in range(N_SUPPLIER)],
                     "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
                     "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)},
        "part": {"p_partkey": part_keys,
                 "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
                 "p_type": rng.choice(PART_TYPES, N_PART),
                 "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
                 "p_retailprice": 900.0 + (part_keys % 1000) / 10.0},
        "orders": orders_columns(rng, np.arange(N_ORDERS)),
        "lineitem": lineitem_columns(rng, N_LINEITEM),
        "events": _events(rng),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }
    for name, schema in SCHEMAS.items():
        write_parquet(f"{out_dir}/{name}.parquet", cols[name], schema)
