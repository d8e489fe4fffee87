"""Seeded inputs for the pipeline benchmark.

Two layers, so the work stays the same across seeds while the values differ:

- `base_tables` builds the star schema + events + documents + embeddings
  once, from a FIXED structure seed, at a given scale factor. Shapes and
  distributions follow the engine's synthetic test tables (TPC-H-ish keys,
  a 31-word document vocabulary with ~5% " dup" near-copies, unit-norm
  64-dim embeddings with 10 labels).
- `relabel` then applies an isomorphic relabel picked by the run seed
  (key permutations, a vocabulary permutation, an embedding sign
  pattern), in the spirit of the repo's structure-preserving scale-up
  tool. Joins, group sizes, near-duplicate pairs and similarity rankings
  are the same for every seed; the values differ.

The sync drain backlog is drawn from the run seed directly.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRUCTURE_SEED = 20240101
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
DIM = 64


def _ts(n, rng, start, end):
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"))


def base_tables(sf: float) -> dict:
    """Fixed-structure tables at scale factor `sf` (sf=0.1 ~ 600k lineitems)."""
    rng = np.random.default_rng(STRUCTURE_SEED)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb, n_user = int(50000 * sf), int(20000 * sf), int(15000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array("blue old large hot cold small new red".split())
    noun = np.array("widget gizmo bolt plate rod anvil ring gear".split())
    ptype = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"])
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptype[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(n_ord, rng, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(n_li, rng, "1995-01-02", "2001-11-04")})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span = 30 * 86400 * 1000000
    ts = np.sort(rng.integers(t0, t0 + span, n_ev))
    etype = np.array(["signup", "click", "error", "view", "purchase"])
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": etype[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_tok = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_tok)))
    langs = np.array(["en", "en", "en", "fr", "de", "es", "zh"])
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    v = rng.standard_normal((n_emb, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def relabel(tables: dict, seed: int) -> dict:
    """Seed-picked isomorphic copy of `tables`.

    - customer, supplier, part, order and user keys go through a seeded
      permutation of their own key range, applied to the primary key and
      every foreign key alike: the purchase graph, join fan-outs and group
      sizes are unchanged, only which key carries which role moves;
    - document tokens go through a seeded permutation of the vocabulary,
      so token counts, lengths, near-duplicate pairs and term frequencies
      are preserved while the words differ;
    - embeddings get a seeded Rademacher sign pattern on their dimensions,
      which preserves every dot product exactly.
    Document, vector and event ids keep their values: the engine's
    fixtures select queries by id (every 200th document, the first 64 of
    them) and order events by id."""
    rng = np.random.default_rng(seed)
    out = dict(tables)
    spaces = {
        "cust": (tables["customer"].num_rows, {"customer": "c_custkey", "orders": "o_custkey"}),
        "supp": (tables["supplier"].num_rows, {"supplier": "s_suppkey", "lineitem": "l_suppkey"}),
        "part": (tables["part"].num_rows, {"part": "p_partkey", "lineitem": "l_partkey"}),
        "order": (tables["orders"].num_rows, {"orders": "o_orderkey", "lineitem": "l_orderkey"}),
        "user": (int(np.max(tables["events"].column("user_id").to_numpy())) + 1,
                 {"events": "user_id"}),
    }
    for n, cols in spaces.values():
        perm = rng.permutation(n).astype(np.int64)
        for tb, c in cols.items():
            t = out[tb]
            out[tb] = t.set_column(t.schema.get_field_index(c), c,
                                   pa.array(perm[t.column(c).to_numpy()]))
    words = dict(zip(VOCAB, rng.permutation(VOCAB)))
    d = out["documents"]
    texts = [" ".join(words.get(tok, tok) for tok in s.split(" "))
             for s in d.column("text").to_pylist()]
    d = d.set_column(d.schema.get_field_index("text"), "text", pa.array(texts))
    out["documents"] = d.set_column(d.schema.get_field_index("n_chars"), "n_chars",
                                    pa.array([len(s) for s in texts], pa.int64()))
    signs = rng.choice(np.array([-1.0, 1.0], dtype=np.float32), DIM)
    e = out["embeddings"]
    flat = e.column("embedding").combine_chunks()
    v = flat.values.to_numpy(zero_copy_only=False).reshape(-1, DIM) * signs
    out["embeddings"] = e.set_column(
        e.schema.get_field_index("embedding"), "embedding",
        pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())))
    out["_meta"] = {"seed": seed, "n_docs": d.num_rows, "n_embeddings": e.num_rows}
    return out


def write_tables(tables: dict, out_dir: str) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return tables["_meta"]


# The reference's CRM snapshot (FIXTURES.md section 1): one tenant, whose
# funded-cases export holds 2,117 cases.
SYNC_CASES = 2117


def sync_backlog(seed: int, nights: int, change_share: float = 0.2) -> pa.Table:
    """The scheduled sync's backlog: `nights` nightly CRM snapshots of the
    reference's one tenant, each listing every one of its SYNC_CASES cases
    once, so the backlog holds nights * SYNC_CASES updates.

    A case's serial number starts at a seeded value below 100,000 (the
    reference synthesises `serialno = pmod(abs(hash(case_ref)), 100000)`)
    and rises by one on each night the case changed; each case changes on
    a night with probability `change_share`. An unchanged case repeats its
    last serial, so most updates are duplicates of one already seen. The
    snapshots are concatenated oldest first."""
    rng = np.random.default_rng([seed, 2])
    serial = rng.integers(0, 100000, SYNC_CASES)
    snaps = []
    for _ in range(nights):
        serial = serial + (rng.random(SYNC_CASES) < change_share)
        snaps.append(serial)
    return pa.table({
        "tenant_id": np.zeros(nights * SYNC_CASES, dtype=np.int64),
        "case_ref": np.tile(np.arange(1, SYNC_CASES + 1, dtype=np.int64), nights),
        "serialno": np.concatenate(snaps).astype(np.int64)})
