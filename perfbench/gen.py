"""Seeded input generator for the perfbench workloads.

Every table has the schema of graft's star-schema / text / vector tables
(see `graft.sources.Tables`), drawn from `numpy.random.default_rng(seed)`.
The same seed gives byte-identical inputs; another seed gives inputs of
the same size and shape with different rows. Dimension tables (region,
nation) are fixed reference data and do not depend on the seed.
"""
import gzip
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. Chosen so that one untimed warm pass plus the
# timed loop fit the per-run budget on a 4-core host (see README.md).
SIZES = {
    "analytics": dict(customer=1500, supplier=100, part=2000, orders=15000,
                      lineitem=60000, events=10000, documents=500),
    "curation": dict(documents=700, embeddings=700),
    "stream": dict(stream_files=400, docs_per_file=4, events_per_file=20,
                   reference_docs=400),
}
# Input-shape knobs recorded in workloads.json.
EXACT_DUP_SHARE = 0.08   # documents whose text copies an earlier document
NEAR_DUP_SHARE = 0.08    # documents that copy an earlier one with ~5% tokens replaced
VEC_NEAR_DUP_SHARE = 0.10  # vectors that are jittered copies of an earlier vector
VEC_CLUSTER_ZIPF = 1.0   # cluster-size skew: P(label i) ~ 1 / (i + 1) ** s
VEC_DIM = 64
# Per-dimension noise around a cluster centre: tight enough that every pair
# inside a cluster clears semantic_clusters' 0.4 cosine bar, so the pair
# graph and its connected-components rounds have the same shape per seed.
VEC_SPREAD = 0.05
VEC_LABELS = 10

VOCAB = ["query", "row", "stream", "the", "spark", "line", "small", "fast",
         "group", "customer", "batch", "sort", "value", "hash", "filter",
         "big", "data", "part", "column", "order", "scan", "a", "slow", "agg",
         "key", "window", "table", "merge", "vector", "join"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EVENTS_T0 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def dims(out):
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def star(rng, out, n):
    dims(out)
    nc, ns, np_, no, nl = (n["customer"], n["supplier"], n["part"],
                           n["orders"], n["lineitem"])
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "BUILDING", "FURNITURE"], nc)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    adj = rng.choice(["blue", "old", "small", "new", "large", "hot", "cold", "red"], np_)
    noun = rng.choice(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"], np_)
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 1)})
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["O", "P", "F"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": EPOCH_1995 + odays * DAY_US,
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    lok = rng.integers(0, no, nl)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": EPOCH_1995 + (odays[lok] + rng.integers(1, 95, nl)) * DAY_US})
    events(rng, out, n["events"], 0)
    texts, _, _ = doc_texts(rng, n["documents"])
    _write(f"{out}/documents.parquet", doc_cols(rng, list(range(len(texts))), texts))


def event_cols(rng, n, first_id, t0_us, span_us, tz=None):
    gaps = np.sort(rng.integers(0, span_us, n))
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(EVENTS_T0 + t0_us + gaps, pa.timestamp("us")).cast(pa.timestamp("us", tz=tz)),
        "user_id": pa.array(rng.integers(0, max(50, n // 67), n), pa.int64()),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n),
        "value": np.round(rng.gamma(2.0, 25.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}


def events(rng, out, n, first_id):
    _write(f"{out}/events.parquet", event_cols(rng, n, first_id, 0, 30 * DAY_US))


def doc_texts(rng, n, vocab=VOCAB, lengths=(10, 101)):
    """Bag-of-words texts with planted exact and near duplicates.
    Returns (texts, n_exact, n_near)."""
    texts = []
    n_exact = n_near = 0
    # exact shares: the same number of planted duplicates for every seed
    kinds = np.zeros(n)
    ne, nn = round(n * EXACT_DUP_SHARE), round(n * NEAR_DUP_SHARE)
    kinds[1:] = rng.permutation(np.r_[np.full(ne, 1.0), np.full(nn, 2.0), np.zeros(n - 1 - ne - nn)])
    for i in range(n):
        k = kinds[i]
        if k == 1.0:
            texts.append(texts[int(rng.integers(0, i))])
            n_exact += 1
        elif k == 2.0:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
            n_near += 1
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(*lengths)))))
    return texts, n_exact, n_near


def doc_cols(rng, ids, texts):
    return {
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, len(ids), p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}


def warc_uri(doc_id):
    return f"https://corpus.example.com/doc/{doc_id}"


def warc_gz(path, ids, texts):
    """One gzip member per WARC/1.0 response record (Common-Crawl layout)."""
    with open(path, "wb") as f:
        for i, (d, t) in enumerate(zip(ids, texts)):
            body = t.encode("utf-8")
            rec = ("WARC/1.0\r\n"
                   f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-{d:012d}>\r\n"
                   "WARC-Type: response\r\n"
                   f"WARC-Date: 2026-01-01T{(i // 60) % 24:02d}:{i % 60:02d}:00Z\r\n"
                   f"WARC-Target-URI: {warc_uri(d)}\r\n"
                   "Content-Type: text/plain\r\n"
                   f"Content-Length: {len(body)}\r\n\r\n").encode("utf-8") + body + b"\r\n\r\n"
            f.write(gzip.compress(rec, mtime=0))


def corpus(rng, out, n):
    texts, ne, nn = doc_texts(rng, n["documents"])
    ids = list(range(len(texts)))
    _write(f"{out}/documents.parquet", doc_cols(rng, ids, texts))
    os.makedirs(f"{out}/warc", exist_ok=True)
    warc_gz(f"{out}/warc/documents.warc.gz", ids, texts)
    return {"exact_dup_docs": ne, "near_dup_docs": nn}


def vectors(rng, out, n):
    m = n["embeddings"]
    centers = rng.normal(size=(VEC_LABELS, VEC_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    # cluster sizes follow the Zipf quota exactly, so every seed has the
    # same bucket skew; only the rows (directions, noise) differ
    p = 1.0 / (np.arange(VEC_LABELS) + 1) ** VEC_CLUSTER_ZIPF
    sizes = np.floor(m * p / p.sum()).astype(int)
    sizes[0] += m - sizes.sum()
    labels = rng.permutation(np.repeat(np.arange(VEC_LABELS), sizes))
    vecs = centers[labels] + rng.normal(scale=VEC_SPREAD, size=(m, VEC_DIM))
    near = np.zeros(m, bool)
    near[1 + rng.permutation(m - 1)[:round(m * VEC_NEAR_DUP_SHARE)]] = True
    for i in np.flatnonzero(near):
        # a jittered copy of another member of the same cluster
        same = np.flatnonzero(labels == labels[i])
        j = int(same[rng.integers(0, len(same))])
        vecs[i] = vecs[j] + rng.normal(scale=0.01, size=VEC_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return {"near_dup_vectors": int(near.sum()),
            "largest_cluster_share": round(float(np.bincount(labels).max() / m), 4)}


def stream(rng, out, n):
    """Staged stream input: file k of docs/ and events/ is released by the
    harness at its scheduled time. `reference/` is the static corpus the
    incremental dedup anti-joins against; some stream docs copy it."""
    nf, dpf, epf = n["stream_files"], n["docs_per_file"], n["events_per_file"]
    # Gopher admission needs >= 50 words and two of its required words,
    # so stream documents are longer and carry a few of them
    vocab, lengths = VOCAB + ["of", "and", "to", "with"], (30, 121)
    ref_texts, _, _ = doc_texts(rng, n["reference_docs"], vocab, lengths)
    os.makedirs(f"{out}/reference", exist_ok=True)
    _write(f"{out}/reference/documents.parquet",
           doc_cols(rng, list(range(len(ref_texts))), ref_texts))
    texts, ne, nn = doc_texts(rng, nf * dpf, vocab, lengths)
    # a share of the stream re-sends reference documents verbatim
    from_ref = rng.permutation(len(texts)) < round(len(texts) * EXACT_DUP_SHARE)
    texts = [ref_texts[int(rng.integers(0, len(ref_texts)))] if r else t
             for t, r in zip(texts, from_ref)]
    base = 1_000_000
    os.makedirs(f"{out}/staged/docs", exist_ok=True)
    os.makedirs(f"{out}/staged/events", exist_ok=True)
    second, minute = 1_000_000, 60_000_000
    for k in range(nf):
        ids = list(range(base + k * dpf, base + (k + 1) * dpf))
        cols = doc_cols(rng, ids, texts[k * dpf:(k + 1) * dpf])
        # document time advances one second per file, so every duplicate
        # falls inside incrementalDedup's 2-hour watermark horizon and the
        # stream's keep-set equals its batch twin's; event time advances
        # one minute per file, so windowedCounts closes hourly windows
        cols["ts"] = pa.array([EVENTS_T0 + k * second] * dpf,
                              pa.timestamp("us")).cast(pa.timestamp("us", tz="UTC"))
        _write(f"{out}/staged/docs/part-{k:05d}.parquet", cols)
        _write(f"{out}/staged/events/part-{k:05d}.parquet",
               event_cols(rng, epf, k * epf, k * minute, minute, tz="UTC"))
    return {"exact_dup_docs": ne + int(from_ref.sum()), "near_dup_docs": nn}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = SIZES[workload]
    if workload == "analytics":
        star(rng, out, n)
        mb = sum(os.path.getsize(p) for p in os.scandir(out) if p.name.endswith(".parquet")) / 1e6
        return {"input_mb": mb}
    if workload == "curation":
        meta = {**corpus(rng, out, n), **vectors(rng, out, n)}
        text = pq.read_table(f"{out}/documents.parquet", columns=["text"]).column("text")
        meta["input_mb"] = (sum(len(t.as_py().encode("utf-8")) for t in text)
                            + n["embeddings"] * VEC_DIM * 4) / 1e6
        return meta
    return stream(rng, out, n)
