"""Seeded input generator for the warehouse benchmark.

Two steps:

* `base_tables(seed, sf)` draws a TPC-H-ish star schema plus the
  `events` and `documents` tables, with the same schemas and value
  domains as the harness testdata the engine's oracle twins are
  written against (uniform keys, ~4 lines per order, 30-word
  document vocabulary with ~5% planted near-duplicates).
* `expand(base, factor, keep, seed, out)` writes a disjoint-shard
  expansion: shard r keeps a seeded `keep` share of the orders (their
  lines follow them) and of the documents, and shifts every
  order/customer/event/document key by r * SHIFT, so each fact row
  still joins exactly one dimension row. part, supplier, nation and
  region are shared by all shards. Document tokens of shard r >= 1
  get an `r<r>~` tag, so shingle and term identity stay shard-local
  (the ScaleDecadeProbe corpus model). Shard 0 is the base itself:
  factor 1 with keep 1.0 reproduces the base rows exactly.

`write_single(base, out)` writes the base unexpanded, one file and
one row group per table (the harness testdata layout).
"""
import os
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Divisible by 2..8, 10, 12 and 101, so every key-modulo rule the
# queries use (payment split %3/%4/%10, dedup plants %7, BM25 query
# sample %101) replicates per shard; far above any base key.
SHIFT = 84840000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

SHARDED = ["orders", "lineitem", "customer", "events", "documents"]
SHARED = ["part", "supplier", "nation", "region"]
TABLES = SHARDED + SHARED


def _us(date: str) -> int:
    d = dt.datetime.fromisoformat(date)
    return int((d - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _ts(rng, lo: str, hi: str, n: int, day: bool = True) -> pa.Array:
    a, b = _us(lo), _us(hi)
    v = rng.integers(a, b + 1, n)
    if day:
        v -= v % 86_400_000_000
    return pa.array(v, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed: int, sf: float) -> dict:
    """The base star schema at scale factor `sf` (sf 0.01 = 60k lines)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev, n_doc = 4 * n_ord, int(1_000_000 * sf), int(50_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_line)), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng, "1995-01-02", "2001-11-04", n_line)})
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(_ts(rng, "2024-01-01", "2024-01-30 23:59:59",
                                   n_ev, day=False).to_numpy()),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(40.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_doc)
    return t


def _documents(rng, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 100, n)]
    # ~5% near-duplicates: another document's text plus a " dup" tail
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def write_single(base: dict, out: str) -> None:
    """Each table as ONE parquet file with ONE row group."""
    os.makedirs(out, exist_ok=True)
    for name, table in base.items():
        _write(table, os.path.join(out, f"{name}.parquet"))


def shard(base: dict, r: int, keep: float, rng) -> dict:
    """Shard r of the expansion, as in-memory tables (SHARDED only)."""
    off = r * SHIFT
    o = base["orders"]
    if keep < 1.0:
        o = o.filter(pa.array(rng.random(o.num_rows) < keep))
    li = base["lineitem"].filter(
        pc.is_in(base["lineitem"]["l_orderkey"], value_set=o["o_orderkey"]))
    docs = base["documents"]
    if keep < 1.0:
        docs = docs.filter(pa.array(rng.random(docs.num_rows) < keep))

    def shift(t, cols):
        for c in cols:
            i = t.schema.get_field_index(c)
            t = t.set_column(i, c, pc.add(t[c], pa.scalar(off, pa.int64())))
        return t

    out = {
        "orders": shift(o, ["o_orderkey", "o_custkey"]),
        "lineitem": shift(li, ["l_orderkey"]),
        "customer": shift(base["customer"], ["c_custkey"]),
        "events": shift(base["events"], ["event_id", "user_id"]),
        "documents": shift(docs, ["doc_id"]),
    }
    if r > 0:
        d = out["documents"]
        tagged = [" ".join(f"r{r}~{w}" for w in s.split())
                  for s in d["text"].to_pylist()]
        d = d.set_column(d.schema.get_field_index("text"), "text",
                         pa.array(tagged))
        out["documents"] = d.set_column(
            d.schema.get_field_index("n_chars"), "n_chars",
            pa.array([len(s) for s in tagged], pa.int64()))
    return out


def expand(base: dict, factor: int, keep: float, seed: int, out: str,
           tables=TABLES) -> None:
    """Write the ×factor disjoint-shard expansion of `base` under `out`:
    a directory of one part file per shard for each sharded table, one
    file for each shared table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    for r in range(factor):
        parts = shard(base, r, keep, rng)
        for name, table in parts.items():
            if name in tables:
                d = os.path.join(out, f"{name}.parquet")
                os.makedirs(d, exist_ok=True)
                _write(table, os.path.join(d, f"part-{r:05d}.parquet"))
    for name in SHARED:
        if name in tables:
            _write(base[name], os.path.join(out, f"{name}.parquet"))


def input_bytes(d: str) -> int:
    """Total parquet bytes under d."""
    return sum(os.path.getsize(os.path.join(p, f))
               for p, _, fs in os.walk(d) for f in fs if f.endswith(".parquet"))


def write_changes(base: dict, factor: int, seed: int, out: str) -> dict:
    """The SCD change batch over a ×factor expansion, as a table
    directory the engine's dimension builders read like the inputs:

    * customer.parquet: next snapshot of every shard's customers, ~2%
      with a new balance and ~1% with a new segment (SCD2 history);
    * supplier.parquet: only the changed (~5%) and new (~2%) suppliers
      (SCD1 upsert batch);
    * part.parquet: next snapshot of part with ~3% updated, ~1% deleted
      and ~1% new rows (CDC extract and apply).

    Returns the number of changed rows of each kind."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    cust = pa.concat_tables(
        [shard(base, r, 1.0, None)["customer"] for r in range(factor)]) \
        if factor > 1 else base["customer"]
    n = cust.num_rows
    bal = cust["c_acctbal"].to_numpy().copy()
    seg = np.array(cust["c_mktsegment"].to_pylist(), dtype=object)
    moved = rng.random(n) < 0.02
    bal[moved] = np.round(bal[moved] + rng.uniform(1, 500, moved.sum()), 2)
    resegmented = rng.random(n) < 0.01
    seg[resegmented] = np.array(SEGMENTS)[rng.integers(0, 5, resegmented.sum())]
    cust = cust.set_column(cust.schema.get_field_index("c_acctbal"), "c_acctbal",
                           pa.array(bal))
    cust = cust.set_column(cust.schema.get_field_index("c_mktsegment"),
                           "c_mktsegment", pa.array(seg, pa.string()))
    _write(cust, os.path.join(out, "customer.parquet"))

    sup = base["supplier"]
    changed = sup.filter(pa.array(rng.random(sup.num_rows) < 0.05))
    changed = changed.set_column(
        changed.schema.get_field_index("s_acctbal"), "s_acctbal",
        pc.add(changed["s_acctbal"], 100.0))
    n_new = max(sup.num_rows // 50, 1)
    new = pa.table({
        "s_suppkey": pa.array(np.arange(n_new) + sup.num_rows, pa.int64()),
        "s_name": [f"Supplier#{i + sup.num_rows:09d}" for i in range(n_new)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_new), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_new)})
    _write(pa.concat_tables([changed, new]), os.path.join(out, "supplier.parquet"))

    part = base["part"]
    u = rng.random(part.num_rows)
    kept = part.filter(pa.array(u >= 0.01))
    upd = pa.array(rng.random(kept.num_rows) < 0.03)
    kept = kept.set_column(
        kept.schema.get_field_index("p_retailprice"), "p_retailprice",
        pc.if_else(upd, pc.add(kept["p_retailprice"], 1.0), kept["p_retailprice"]))
    n_ins = max(part.num_rows // 100, 1)
    ins = part.slice(0, n_ins)
    ins = ins.set_column(0, "p_partkey",
                         pa.array(np.arange(n_ins) + part.num_rows, pa.int64()))
    _write(pa.concat_tables([kept, ins]), os.path.join(out, "part.parquet"))
    for name in ("nation", "region"):
        _write(base[name], os.path.join(out, f"{name}.parquet"))
    return {"customer": int((moved | resegmented).sum()),
            "supplier": changed.num_rows + n_new,
            "part": int(pc.sum(upd).as_py() or 0) + int((u < 0.01).sum()) + n_ins}
