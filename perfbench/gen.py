"""Seeded input generator for the engine benchmark.

Everything a workload reads is made here from one integer seed; the same
seed gives byte-identical files. Layout under the output directory:

    corpus/<table>.parquet     TPC-H-style star schema + events, documents,
                               embeddings (the schema graft.Tables reads)
    etl/objects/<key>.ndjson   landing payloads of skewed size
    etl/expected.json          per object: output bucket, record count and
                               the expected (id, uppercase_name) multiset
    etl/manifest.tsv           key, bucket, records, bytes (read by the JVM)
    kernels/pool.parquet       the kernel frame's distinct rows

The corpus is small (lineitem ~60k rows): at this size per-job and
per-stage overhead dominates, which is what the relational and curation
workloads are chosen to expose. The kernel workload multiplies its pool by
a range to reach 10^6 rows, so per-row work dominates there instead.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
NAME_PARTS = ["ana", "bruno", "chloé", "dmitri", "eva", "fátima", "gus",
              "hana", "iñigo", "jürgen", "kai", "lena", "mo", "nora", "otto"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
BUCKETS = ["bucket-a", "bucket-b", "bucket-c"]

# corpus sizes (rows)
N_CUSTOMER, N_SUPPLIER, N_PART = 1500, 100, 2000
N_ORDERS, N_LINEITEM, N_EVENTS = 15000, 60000, 10000
N_DOCUMENTS, N_EMBEDDINGS = 300, 500

# etl landing zone
N_OBJECTS = 12
# kernel pool
POOL_ROWS = 2000
DIM = 64


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _ts(days, base):
    """Days-offset array → timestamp[us] (naive) array."""
    us = (np.asarray(days, dtype=np.int64) * 86400 * 10**6) + base
    return pa.array(us, type=pa.timestamp("us"))


def _base_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}T00:00:00", "us")
               .astype(np.int64))


def _words(rng, n):
    return [WORDS[i] for i in rng.integers(0, len(WORDS), n)]


def gen_corpus(rng, out):
    """The corpus shape, the same for every seed (see relabel_corpus)."""
    d = os.path.join(out, "corpus")
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{d}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{d}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": [["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                          "MACHINERY"][i] for i in rng.integers(0, 5, N_CUSTOMER)]}),
        f"{d}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2)}),
        f"{d}/supplier.parquet")
    colors = ["large", "hot", "blue", "old", "cold", "red", "green", "small"]
    nouns = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
    _write(pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"][i]
                   for i in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": [round(900 + (k % 1000) * 0.1, 1) for k in range(N_PART)]}),
        f"{d}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, N_ORDERS), _base_us(1995, 1, 1)),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                             "5-LOW"][i] for i in rng.integers(0, 5, N_ORDERS)]}),
        f"{d}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, N_LINEITEM), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, N_LINEITEM), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, N_LINEITEM), 2),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _ts(rng.integers(0, 2498, N_LINEITEM), _base_us(1995, 1, 2))}),
        f"{d}/lineitem.parquet")
    secs = np.sort(rng.uniform(0, 30 * 86400, N_EVENTS))
    _write(pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array((secs * 1e6).astype(np.int64) + _base_us(2024, 1, 1),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_EVENTS // 60, N_EVENTS), pa.int64()),
        "event_type": [["click", "error", "purchase", "signup", "view"][i]
                       for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.gamma(2.0, 30.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]}),
        f"{d}/events.parquet")
    texts = []
    for i in range(N_DOCUMENTS):
        r = rng.random()
        if i > 10 and r < 0.03:      # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.08:    # near duplicate: one word swapped
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w))
        else:
            w = _words(rng, int(rng.integers(10, 100)))
            if rng.random() < 0.05:
                w.append("dup")
            texts.append(" ".join(w))
    _write(pa.table({
        "doc_id": pa.array(range(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, N_DOCUMENTS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{d}/documents.parquet")
    labels = rng.integers(0, 10, N_EMBEDDINGS)
    centers = rng.normal(0, 1, (10, DIM))
    emb = centers[labels] + rng.normal(0, 0.8, (N_EMBEDDINGS, DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(range(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{d}/embeddings.parquet")


def relabel_corpus(rng, out):
    """Seed-driven relabeling of the corpus that keeps its shape: documents
    get new ids and a permutation of the words of each length (so word and
    character counts, exact and near duplicates all survive); embeddings get
    new ids, permuted labels and one random rotation (so every cosine
    survives); the other tables are written in a new row order."""
    d = os.path.join(out, "corpus")
    docs = pq.read_table(f"{d}/documents.parquet").to_pydict()
    fixed = {"a", "the"}
    perm = {}
    for n in sorted({len(w) for w in WORDS}):
        group = [w for w in WORDS if len(w) == n and w not in fixed]
        perm.update(zip(group, [group[i] for i in rng.permutation(len(group))]))
    ids = rng.permutation(N_DOCUMENTS)
    order = np.argsort(ids)
    text = [" ".join(perm.get(w, w) for w in t.split(" ")) for t in docs["text"]]
    _write(pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": [text[i] for i in order],
        "lang": [docs["lang"][i] for i in order],
        "source": [docs["source"][i] for i in order],
        "n_chars": pa.array([docs["n_chars"][i] for i in order], pa.int64())}),
        f"{d}/documents.parquet")
    emb = pq.read_table(f"{d}/embeddings.parquet").to_pydict()
    q, _ = np.linalg.qr(rng.normal(0, 1, (DIM, DIM)))
    vecs = (np.array(emb["embedding"], dtype=np.float64) @ q).astype(np.float32)
    labels = rng.permutation(10)[np.array(emb["label"])]
    ids = rng.permutation(N_EMBEDDINGS)
    order = np.argsort(ids)
    _write(pa.table({
        "vec_id": pa.array(ids[order], pa.int64()),
        "embedding": pa.array(list(vecs[order]), pa.list_(pa.float32())),
        "label": pa.array(labels[order], pa.int32())}),
        f"{d}/embeddings.parquet")
    for t in ("customer", "supplier", "part", "orders", "lineitem", "events"):
        tab = pq.read_table(f"{d}/{t}.parquet")
        _write(tab.take(pa.array(rng.permutation(tab.num_rows))), f"{d}/{t}.parquet")


def gen_etl(shape, rng, out):
    """NDJSON objects of skewed size: most hold a few hundred records, one in
    eight holds thousands. ~10% of records have a null or missing `name`;
    ~0.5% of lines are malformed. Sizes and record kinds come from `shape`,
    values from `rng`."""
    d = os.path.join(out, "etl", "objects")
    os.makedirs(d, exist_ok=True)
    expected = []
    next_id = 0
    for i in range(N_OBJECTS):
        key = f"obj-{i:03d}.ndjson"
        n = int(shape.integers(2000, 6000)) if i % 8 == 3 else int(shape.integers(100, 400))
        bucket = BUCKETS[int(shape.integers(0, len(BUCKETS)))]
        lines, pairs = [], []
        for r in shape.random(n):
            if r < 0.005:
                lines.append(["not json at all", "{,}", "<html>"][int(rng.integers(0, 3))])
                pairs.append([None, ""])
                continue
            rec = {"id": next_id, "amount": round(float(rng.uniform(0, 1000)), 2),
                   "category": WORDS[int(rng.integers(0, len(WORDS)))]}
            if r < 0.055:
                rec["name"] = None
            elif r >= 0.105:
                rec["name"] = " ".join(NAME_PARTS[j] for j in
                                       rng.integers(0, len(NAME_PARTS), 2))
            lines.append(json.dumps(rec, ensure_ascii=False))
            pairs.append([next_id, (rec.get("name") or "").upper()])
            next_id += 1
        with open(os.path.join(d, key), "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        pairs.sort(key=lambda p: (p[0] is not None, p[0] or 0, p[1]))
        expected.append({"key": key, "bucket": bucket, "records": n,
                         "bytes": os.path.getsize(os.path.join(d, key)),
                         "pairs": pairs})
    with open(os.path.join(out, "etl", "expected.json"), "w") as f:
        json.dump(expected, f)
    with open(os.path.join(out, "etl", "manifest.tsv"), "w") as f:
        f.writelines(f"{e['key']}\t{e['bucket']}\t{e['records']}\t{e['bytes']}\n"
                     for e in expected)


def gen_kernels(shape, rng, out):
    """Distinct rows of the kernel frame: unit float vector pairs, sorted
    distinct id arrays, word text and suffix pairs sharing a prefix. Array
    lengths and prefix cuts come from `shape`, values from `rng`."""
    a = rng.normal(0, 1, (POOL_ROWS, DIM))
    b = a * 0.5 + rng.normal(0, 1, (POOL_ROWS, DIM))
    a = (a / np.linalg.norm(a, axis=1, keepdims=True)).astype(np.float32)
    b = (b / np.linalg.norm(b, axis=1, keepdims=True)).astype(np.float32)

    def ids():
        return sorted(int(x) for x in rng.choice(256, int(shape.integers(16, 64)), replace=False))

    ids_a = [ids() for _ in range(POOL_ROWS)]
    ids_b = [ids() for _ in range(POOL_ROWS)]
    words = [_words(rng, int(shape.integers(20, 60))) for _ in range(POOL_ROWS)]
    w2 = [["pre"] + w[:int(shape.integers(0, len(w)))] + _words(rng, int(shape.integers(1, 20)))
          for w in words]
    hashes = [[int(x) for x in rng.integers(0, 1 << 60, int(shape.integers(8, 48)))]
              for _ in range(POOL_ROWS)]
    _write(pa.table({
        "pid": pa.array(range(POOL_ROWS), pa.int64()),
        "a": pa.array(list(a), pa.list_(pa.float32())),
        "b": pa.array(list(b), pa.list_(pa.float32())),
        "ids_a": pa.array(ids_a, pa.list_(pa.int64())),
        "ids_b": pa.array(ids_b, pa.list_(pa.int64())),
        "text": [" ".join(w) for w in words],
        "w1": pa.array(words, pa.list_(pa.string())),
        "p1": pa.array([1] * POOL_ROWS, pa.int64()),
        "w2": pa.array(w2, pa.list_(pa.string())),
        "p2": pa.array([2] * POOL_ROWS, pa.int64()),
        "hashes": pa.array(hashes, pa.list_(pa.int64()))}),
        os.path.join(out, "kernels", "pool.parquet"))


def generate(seed, out, parts=("corpus", "etl", "kernels")):
    """Write the inputs the named parts need under `out`. Each part has a
    fixed shape (sizes, duplicate structure, array lengths), drawn from a
    constant stream, and seed-driven values, so every seed costs about the
    same work while no two seeds share their data."""
    for i, name in enumerate(("corpus", "etl", "kernels")):
        if name not in parts:
            continue
        shape, rng = np.random.default_rng([0, i]), np.random.default_rng([seed, i])
        if name == "corpus":
            gen_corpus(shape, out)
            relabel_corpus(rng, out)
        elif name == "etl":
            gen_etl(shape, rng, out)
        else:
            gen_kernels(shape, rng, out)


if __name__ == "__main__":
    import sys
    generate(int(sys.argv[1]), sys.argv[2])
