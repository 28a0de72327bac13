#!/usr/bin/env python3
"""Build local scale/skew probe datasets from /root/testdata/sf0.1.

  tools/scaleprobe.py sf1x  /tmp/sf1x   # 10x key-shifted replicas (join-consistent)
  tools/scaleprobe.py skew  /tmp/skew01 # one hot user owns ~20% of events

The sf1x probe scales the CDC + analytics fact tables (events, orders,
lineitem, customer, part, supplier) 10x with disjoint key ranges per
replica so every join stays consistent and output sizes scale ~10x.
documents/embeddings copy unscaled: replicating identical documents
would grow near-dup PAIRS quadratically in the replica count — a data
artifact, not an operator-scaling signal (the 8x duplicated-data dedup
probe is a separate, round-2 exercise).

The skew probe reassigns ~20% of events to user_id 0, making one
window/session partition dominate — the hot-key shape AQE skew
handling addresses for joins but window operators must absorb.
"""
import sys, os, shutil
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc

SRC = "/root/testdata/sf0.1"
COPY_ONLY = ["region", "nation", "documents", "embeddings"]
# table -> {column: key-space label}; each label gets one offset stride
SHIFTS = {
    "events":   {"event_id": "event", "user_id": "user"},
    "orders":   {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "customer": {"c_custkey": "cust"},
    "part":     {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supp"},
}

def strides():
    s = {}
    for tbl, cols in SHIFTS.items():
        t = pq.read_table(f"{SRC}/{tbl}.parquet")
        for col, label in cols.items():
            mx = pc.max(t[col]).as_py()
            s[label] = max(s.get(label, 0), mx + 1)
    return s

def sf1x(out, replicas=10):
    """Key-shifted join-consistent fact replicas. Writes incrementally
    (one replica per writer call) so a 100x run stays memory-flat."""
    os.makedirs(out, exist_ok=True)
    for t in COPY_ONLY:
        shutil.copy(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    stride = strides()
    for tbl, cols in SHIFTS.items():
        t = pq.read_table(f"{SRC}/{tbl}.parquet")
        writer = pq.ParquetWriter(f"{out}/{tbl}.parquet", t.schema)
        for i in range(replicas):
            r = t
            for col, label in cols.items():
                idx = r.schema.get_field_index(col)
                shifted = pc.add(r[col], i * stride[label])
                r = r.set_column(idx, r.schema.field(col), shifted.cast(r.schema.field(col).type))
            writer.write_table(r, row_group_size=100000)
        writer.close()
        print(f"[sf1x] {tbl}: {t.num_rows} -> {t.num_rows * replicas} rows")

def skew(out, hot_frac=0.2):
    os.makedirs(out, exist_ok=True)
    for t in list(COPY_ONLY) + ["orders", "lineitem", "customer", "part", "supplier"]:
        shutil.copy(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    t = pq.read_table(f"{SRC}/events.parquet")
    n = t.num_rows
    # deterministic hot set: every 5th row (by event_id order) -> user 0
    k = int(1 / hot_frac)
    hot = pc.equal(pc.subtract(t["event_id"],
        pc.multiply(pc.divide(t["event_id"], k), k)), 0)  # event_id % k == 0
    uid = pc.if_else(hot, pa.scalar(0, t["user_id"].type), t["user_id"])
    idx = t.schema.get_field_index("user_id")
    t = t.set_column(idx, t.schema.field("user_id"), uid)
    pq.write_table(t, f"{out}/events.parquet")
    print(f"[skew] events: {n} rows, ~{hot_frac:.0%} now user_id=0")

def emb(out, replicas=25):
    """Embeddings-only scale probe (timing signal for the ANN/IVF build
    paths, which sf1x leaves unscaled): vec_id-shifted replicas, vectors
    copied as-is. 2000 -> 50000 vectors at the default 25x."""
    os.makedirs(out, exist_ok=True)
    for t in list(COPY_ONLY) + list(SHIFTS):
        if t != "embeddings":
            shutil.copy(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    t = pq.read_table(f"{SRC}/embeddings.parquet")
    stride = pc.max(t["vec_id"]).as_py() + 1
    parts = []
    for i in range(replicas):
        idx = t.schema.get_field_index("vec_id")
        shifted = pc.add(t["vec_id"], i * stride).cast(t.schema.field("vec_id").type)
        parts.append(t.set_column(idx, t.schema.field("vec_id"), shifted))
    pq.write_table(pa.concat_tables(parts), f"{out}/embeddings.parquet")
    print(f"[emb] embeddings: {t.num_rows} -> {t.num_rows * replicas} rows")

def docs(out, replicas=10):
    """Documents-only scale probe (timing signal for the corpus-curation
    ops, which sf1x leaves unscaled): doc_id-shifted replicas with every
    token SALTED by the replica index. Token salting is injective on
    token sequences, so within-replica dedup/jaccard/contamination
    structure is EXACTLY preserved (pairs scale linearly with replicas),
    while replicas share zero grams — no quadratic cross-replica pair
    artifact."""
    os.makedirs(out, exist_ok=True)
    for t in ["region", "nation", "embeddings"] + list(SHIFTS):
        shutil.copy(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    t = pq.read_table(f"{SRC}/documents.parquet")
    stride = pc.max(t["doc_id"]).as_py() + 1
    texts = t["text"].to_pylist()
    parts = []
    for i in range(replicas):
        idx = t.schema.get_field_index("doc_id")
        shifted = pc.add(t["doc_id"], i * stride).cast(t.schema.field("doc_id").type)
        r = t.set_column(idx, t.schema.field("doc_id"), shifted)
        salted = [" ".join(f"{w}{i}" for w in s.split()) for s in texts]
        tidx = r.schema.get_field_index("text")
        r = r.set_column(tidx, r.schema.field("text"), pa.array(salted, pa.string()))
        # salting lengthens the text, so n_chars must be recomputed from
        # the salted text or char-based stats (corpus_stats total_chars)
        # would be skewed relative to real data
        if "n_chars" in r.schema.names:
            cidx = r.schema.get_field_index("n_chars")
            nchars = pa.array([len(s) for s in salted],
                              r.schema.field("n_chars").type)
            r = r.set_column(cidx, r.schema.field("n_chars"), nchars)
        parts.append(r)
    pq.write_table(pa.concat_tables(parts), f"{out}/documents.parquet")
    print(f"[docs] documents: {t.num_rows} -> {t.num_rows * replicas} rows")

def docskew(out, hot_frac=0.8):
    """Hot-language probe: ~80% of documents forced to lang='en' — the
    realistic web-corpus shape. Exercises the (lang, shard) packing
    partitions and the lang-keyed aggregation cells under one dominant
    stratum."""
    os.makedirs(out, exist_ok=True)
    for t in ["region", "nation", "embeddings"] + list(SHIFTS):
        shutil.copy(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    t = pq.read_table(f"{SRC}/documents.parquet")
    k = int(1 / (1 - hot_frac))
    cold = pc.equal(pc.subtract(t["doc_id"],
        pc.multiply(pc.divide(t["doc_id"], k), k)), 0)  # doc_id % k == 0
    lang = pc.if_else(cold, t["lang"], pa.scalar("en", pa.string()))
    idx = t.schema.get_field_index("lang")
    pq.write_table(t.set_column(idx, t.schema.field("lang"), lang),
                   f"{out}/documents.parquet")
    print(f"[docskew] documents: {t.num_rows} rows, ~{hot_frac:.0%} now lang=en")

if __name__ == "__main__":
    mode, out = sys.argv[1], sys.argv[2]
    {"sf1x": sf1x, "sf10": lambda o: sf1x(o, replicas=100),
     "skew": skew, "emb": emb, "docs": docs,
     "docskew": docskew}[mode](out)
