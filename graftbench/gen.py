"""Deterministic input data for the graft benchmark.

`write_base` writes the ten fixture tables (TESTDATA.md schema: the TPC-H-ish
star plus events, documents and embeddings) at a given scale factor.
Every column is drawn from the same distributions as graft's sf
fixtures: uniform keys and categoricals, exponential event values,
5% near-duplicate documents ("<text of an earlier doc> dup"), unit-norm
64-d embeddings.

`write_replica` is graft.ScaleUp's key-shifted replication: every entity key
shifts by `replica * OFFSET` consistently across tables, so each replica
is a disjoint copy of the base keyspace and every join keeps its
selectivity. region and nation are shared (one copy). Each replicated
table is a directory with one file per replica, like ScaleUp's
range-partitioned output. The seed only permutes the row order inside
each file; no query result depends on it.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OFFSET = 1_000_000_000  # graft.ScaleUp.Offset
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "blue cold hot red small new old large".split()
NOUN = "ring plate gear rod bolt anvil widget nut".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# table -> key columns shifted per replica (graft.ScaleUp.main); an empty
# list marks a shared dimension
KEYS = {
    "region": [], "nation": [],
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
TABLES = list(KEYS)

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(micros):
    return pa.array(micros, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 96))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(5, n, p=lang_p)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def base_tables(sf, seed):
    """The ten tables at scale factor `sf` (0.1 = the sizes of the sf0.1 fixture)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    n_users = max(1, int(15_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, n_ord) * US_PER_DAY),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_line) * US_PER_DAY)})
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    t["documents"] = _documents(rng, n_doc)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def write_base(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in base_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def replica_tables(src_dir, factor, seed):
    """Yield (table, [one pyarrow table per replica]) for the key-shifted
    factor-x replica of the base tables in `src_dir`."""
    rng = np.random.Generator(np.random.PCG64(seed))
    for name in TABLES:
        src = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        keys = KEYS[name]
        if not keys:
            yield name, [src]
            continue
        parts = []
        for r in range(factor):
            cols = {c: (pc.add(src[c], r * OFFSET) if c in keys else src[c])
                    for c in src.column_names}
            part = pa.table(cols)
            parts.append(part.take(rng.permutation(part.num_rows)))
        yield name, parts


def write_replica(src_dir, dst_dir, factor, seed):
    """Write the replica and check ScaleUp's row counts: x`factor` for
    keyed tables, x1 for the shared dimensions."""
    counts = {}
    for name, parts in replica_tables(src_dir, factor, seed):
        base_rows = pq.ParquetFile(os.path.join(src_dir, f"{name}.parquet")).metadata.num_rows
        if len(parts) == 1:
            pq.write_table(parts[0], os.path.join(dst_dir, f"{name}.parquet"))
        else:
            tdir = os.path.join(dst_dir, f"{name}.parquet")
            os.makedirs(tdir, exist_ok=True)
            for r, part in enumerate(parts):
                pq.write_table(part, os.path.join(tdir, f"part-{r:05d}.parquet"))
        rows = sum(p.num_rows for p in parts)
        want = base_rows * (factor if KEYS[name] else 1)
        if rows != want:
            raise AssertionError(f"{name}: {rows} rows, ScaleUp gives {want}")
        counts[name] = rows
    return counts

