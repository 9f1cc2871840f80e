"""Seeded input generator for the benchmark.

Builds the ten fixture tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) in the shape of the
repository's fixtures (TESTDATA.md) at a given scale factor: same schemas, per-sf row counts and value
distributions, one single-row-group parquet FILE per table named
`<table>.parquet` (the file-streaming sources glob for that leaf name).
Every value is drawn from the seed, so one seed gives byte-identical files
and another seed gives other data.

`scale_up` follows tools/MakeSf's one-application model: `copies` key-shifted
copies of every table (nation/region stay fixed), with a per-copy salt on the
text columns so copies do not plant cross-copy duplicates. Unlike MakeSf's
suffix salt, the salt here is a per-copy letter rotation: it changes every
letter of every token and keeps every token's length, so scaled documents sit
exactly where sf0.1's do relative to the 16-character token-hash prefix.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# rows per unit of scale factor; documents and embeddings never drop below
# 500 rows, as in the repository's small fixtures
ROWS = {"customer": 150000, "supplier": 10000, "part": 200000, "orders": 1500000,
        "lineitem": 6000000, "events": 1000000, "users": 15000, "documents": 50000,
        "embeddings": 20000}
FLOOR = {"documents": 500, "embeddings": 500}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMB_DIM = 64

_US_PER_DAY = 86_400_000_000


def _epoch_us(y, m, d):
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, n, lo, hi):
    """Uniform whole days in [lo, hi], as epoch micros."""
    span = (hi - lo) // _US_PER_DAY
    return lo + rng.integers(0, span + 1, n, dtype=np.int64) * _US_PER_DAY


def _cents(rng, n, lo, hi):
    """Uniform prices with two decimals in [lo, hi]."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _strings(choices, idx):
    return pa.array(np.asarray(choices, dtype=object)[idx], type=pa.string())


def rows(sf):
    return {k: max(FLOOR.get(k, 1), round(v * sf)) for k, v in ROWS.items()}


def gen_base(seed, sf=0.1):
    """Tables at scale factor `sf` drawn from `seed` (dict name -> pyarrow
    Table). Events span the same 30 days at every scale."""
    rng = np.random.default_rng([seed, 0x5F01])
    nr = rows(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    n = nr["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, n, -999.99, 9999.99)),
        "c_mktsegment": _strings(SEGMENTS, rng.integers(0, 5, n))})

    n = nr["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng, n, -999.99, 9999.99))})

    n = nr["part"]
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    keys = np.arange(n, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _strings(names, rng.integers(0, len(names), n)),
        "p_brand": _strings([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, n)),
        "p_type": _strings(PTYPES, rng.integers(0, len(PTYPES), n)),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0)})

    n = nr["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nr["customer"], n, dtype=np.int64)),
        "o_orderstatus": _strings(["F", "O", "P"], rng.integers(0, 3, n)),
        "o_totalprice": pa.array(_cents(rng, n, 1000.0, 500000.0)),
        "o_orderdate": _ts(_days(rng, n, _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1))),
        "o_orderpriority": _strings(PRIORITIES, rng.integers(0, 5, n))})

    n = nr["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, nr["orders"], n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, nr["part"], n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, nr["supplier"], n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, n, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _strings(["A", "N", "R"], rng.integers(0, 3, n)),
        "l_linestatus": _strings(["F", "O"], rng.integers(0, 2, n)),
        "l_shipdate": _ts(_days(rng, n, _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4)))})

    n = nr["events"]
    gaps = np.maximum(1, np.round(rng.exponential(26e6 * 100000 / n, n))).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(_epoch_us(2024, 1, 1) + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, nr["users"], n, dtype=np.int64)),
        "event_type": _strings(EVENT_TYPES, rng.integers(0, 5, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})

    t["documents"] = _documents(rng, nr["documents"])

    n = nr["embeddings"]
    x = rng.standard_normal((n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32))})
    return t


def _documents(rng, n):
    """Word-salad documents over the fixture's 30-word vocabulary, 10-100
    words each; 5% are an earlier document plus a trailing " dup" token and
    0.16% verbatim copies of an earlier document (the dedup plants)."""
    texts = []
    kind = np.zeros(n, dtype=np.int8)
    kind[rng.choice(np.arange(n // 50, n), n // 20, replace=False)] = 1
    kind[rng.choice(np.flatnonzero(kind == 0)[n // 50:], n * 8 // 5000, replace=False)] = 2
    vocab = np.asarray(VOCAB, dtype=object)
    for i in range(n):
        if kind[i]:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if kind[i] == 1 else src)
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": _strings(LANGS, rng.choice(len(LANGS), n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64))})


def copy_salts(seed, copies):
    """Per-copy letter rotations: copy 0 is unchanged; copies 1..k get
    distinct nonzero rotations, so every letter of every token differs
    between any two copies."""
    if copies > 26:
        raise ValueError("at most 26 copies: one distinct letter rotation each")
    rng = np.random.default_rng([seed, 0xC0B1])
    return [0] + [int(r) for r in rng.permutation(np.arange(1, 26))[:copies - 1]]


def _rotate(strings, r):
    if r == 0:
        return strings
    table = str.maketrans(
        "abcdefghijklmnopqrstuvwxyz",
        "".join(chr(ord("a") + (i + r) % 26) for i in range(26)))
    return pa.array([s.translate(table) for s in strings.to_pylist()], type=pa.string())


def scale_up(base, copies, seed):
    """MakeSf's one-application scale-up of `base` by `copies`."""
    if copies == 1:
        return dict(base)
    salts = copy_salts(seed, copies)
    span = {"customer": ["c_custkey"], "supplier": ["s_suppkey"], "part": ["p_partkey"],
            "orders": ["o_orderkey"], "events": ["event_id"], "documents": ["doc_id"],
            "embeddings": ["vec_id"]}
    width = {k: {c: pc.max(base[k][c]).as_py() + 1 for c in cs}
             for k, cs in span.items()}
    width["events"]["user_id"] = pc.max(base["events"]["user_id"]).as_py() + 1
    shifts = {
        "customer": {"c_custkey": width["customer"]["c_custkey"]},
        "supplier": {"s_suppkey": width["supplier"]["s_suppkey"]},
        "part": {"p_partkey": width["part"]["p_partkey"]},
        "orders": {"o_orderkey": width["orders"]["o_orderkey"],
                   "o_custkey": width["customer"]["c_custkey"]},
        "lineitem": {"l_orderkey": width["orders"]["o_orderkey"],
                     "l_partkey": width["part"]["p_partkey"],
                     "l_suppkey": width["supplier"]["s_suppkey"]},
        "events": {"event_id": width["events"]["event_id"],
                   "user_id": width["events"]["user_id"]},
        "documents": {"doc_id": width["documents"]["doc_id"]},
        "embeddings": {"vec_id": width["embeddings"]["vec_id"]}}
    rng = np.random.default_rng([seed, 0x5157])
    signs = rng.choice(np.array([-1.0, 1.0], dtype=np.float32), (copies, EMB_DIM))
    signs[0] = 1.0
    out = {"region": base["region"], "nation": base["nation"]}
    for name, sh in shifts.items():
        parts = []
        for k in range(copies):
            tb = base[name]
            for c, w in sh.items():
                i = tb.schema.get_field_index(c)
                tb = tb.set_column(i, c, pc.add(tb[c], pa.scalar(k * w, tb.schema.field(c).type)))
            if name == "documents" and k:
                i = tb.schema.get_field_index("text")
                tb = tb.set_column(i, "text", _rotate(tb["text"], salts[k]))
            if name == "part" and k:
                i = tb.schema.get_field_index("p_name")
                tb = tb.set_column(i, "p_name", _rotate(tb["p_name"], salts[k]))
            if name == "embeddings" and k:
                x = np.stack(tb["embedding"].to_numpy(zero_copy_only=False)) * signs[k]
                i = tb.schema.get_field_index("embedding")
                tb = tb.set_column(i, "embedding", pa.array(list(x.astype(np.float32)),
                                                            type=pa.list_(pa.float32())))
            parts.append(tb)
        out[name] = pa.concat_tables(parts).combine_chunks()
    return out


def write(tables, out_dir):
    """One single-row-group parquet file per table, fixed writer settings
    (no pandas metadata), so equal tables give equal bytes."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        tb = tables[name].replace_schema_metadata(None)
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tb.num_rows), compression="snappy")


def generate(seed, out_dir, sf=0.1, copies=1):
    write(scale_up(gen_base(seed, sf), copies, seed), out_dir)


def query_order(names, seed, pass_no):
    """Seeded per-pass permutation of a workload's query list."""
    rng = np.random.default_rng([seed, 0x0D3E, pass_no])
    return [names[i] for i in rng.permutation(len(names))]
