"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (one parquet file each, with the
fixture schemas of FIXTURES.md) into a directory. The same seed always gives
the same files. Two document corpora exist:

* ``fixture``: word soup over a 31-word vocabulary, 8 to 100 tokens per
  document, every text distinct -- the shape of the committed fixtures.
* ``skew``: the shapes the fixtures never reach. One shingle is present in
  every non-empty document (so its document frequency exceeds the engine's
  df cap), token frequencies are Zipf-distributed over a vocabulary that
  includes multibyte words, a few documents are 100x longer than the rest,
  and some documents are empty.

Both corpora carry near-duplicates: edited copies of earlier documents.
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark sort window line order data column join small customer query "
         "big filter group stream vector dup").split()
# Multibyte words: Latin with diacritics, CJK, Cyrillic and an emoji, so
# byte length and character length differ.
MULTIBYTE = ("données straße größe café naïve 数据 查询 索引 流 表 "
             "данные запрос окно 🚀").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

# Row counts per table, those of the sf0.01 fixtures (lineitem follows from
# 1..7 lines per order).
ROWS = dict(supplier=100, customer=1500, part=2000, orders=15000, events=10000,
            embeddings=500)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base, offsets):
    return (np.datetime64(base) + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def star_tables(out, rng):
    n = ROWS
    pa_i32, pa_i64 = pa.int32(), pa.int64()
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa_i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa_i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa_i32)})
    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa_i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa_i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    nc = n["customer"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa_i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa_i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": segs[rng.integers(0, 5, nc)]})
    npart = n["part"]
    adjs = np.array("cold small large dim fast quiet warm heavy".split())
    nouns = np.array("widget gadget sprocket flange gear bolt anchor valve".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), pa_i64),
        "p_name": np.char.add(np.char.add(adjs[rng.integers(0, 8, npart)], " "),
                              nouns[rng.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": types[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa_i32),
        "p_retailprice": _money(rng, 900.0, 999.9, npart)})
    no = n["orders"]
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa_i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa_i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(_days("1995-01-01", odays), pa.timestamp("us")),
        "o_orderpriority": prios[rng.integers(0, 5, no)]})
    # 1..7 lines per order, TPC-H style
    per_order = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), per_order)
    nl = len(okey)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa_i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa_i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa_i64),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa_i32),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": _money(rng, 900.0, 100000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_days("1995-01-01", odays[okey] + rng.integers(1, 122, nl)),
                               pa.timestamp("us"))})
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 31 * 86400 * 10**6, ne))
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa_i64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa_i64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, ne)],
        "value": np.clip(np.round(rng.lognormal(2.5, 1.0, ne), 2), 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa_i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa_i32)})


def _documents(out, ids, texts, rng):
    n = len(texts)
    _write(out, "documents", {
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def plant_near_dups(texts, rng, vocab, share=0.05):
    """Turns a share of the typical documents into edited copies of other
    typical documents (one token in ten replaced), as real corpora carry;
    without them the dedup kernels find nothing. Empty and long documents
    are neither copied nor overwritten, and copies are never copied again,
    so every seed gives the same number of long documents and duplicate
    groups that are stars."""
    lens = np.array([len(t.split(" ")) if t else 0 for t in texts])
    typical = np.flatnonzero((lens >= 3) & (lens <= 4 * np.median(lens)))
    copies = rng.choice(typical, int(share * len(texts)), replace=False)
    originals = np.setdiff1d(typical, copies)
    for i in copies:
        src = texts[int(rng.choice(originals))].split(" ")
        for k in rng.choice(len(src), max(1, len(src) // 10), replace=False):
            src[k] = vocab[int(rng.integers(0, len(vocab)))]
        texts[i] = " ".join(src) + f" {i}"


def fixture_docs(out, rng, n_docs):
    texts, seen = [], set()
    while len(texts) < n_docs:
        t = " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(8, 101))])
        if t not in seen:
            seen.add(t)
            texts.append(t)
    plant_near_dups(texts, rng, VOCAB)
    _documents(out, np.arange(n_docs), texts, rng)


def skew_docs(out, rng, n_docs, n_long=2, n_empty=6):
    """Zipf tokens over VOCAB, then MULTIBYTE, then numbered rare words, in
    that rank order; the planted shingle ``stream window join`` opens every
    non-empty text."""
    vocab = np.array(VOCAB + MULTIBYTE + [f"t{i}" for i in range(2000)])
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / ranks**1.1
    p /= p.sum()
    texts = []
    empty = set(rng.choice(n_docs, n_empty, replace=False).tolist())
    long_ = set(rng.choice(sorted(set(range(n_docs)) - empty), n_long, replace=False).tolist())
    for i in range(n_docs):
        if i in empty:
            texts.append("")
            continue
        # typical documents hold 8..59 tokens; long ones 100x the middle
        n_tok = 3400 if i in long_ else int(rng.integers(8, 60))
        toks = vocab[rng.choice(len(vocab), n_tok, p=p)]
        texts.append("stream window join " + " ".join(toks) + f" d{i}")
    plant_near_dups(texts, rng, list(vocab))
    _documents(out, np.arange(n_docs), texts, rng)


def generate(out, seed, corpus, n_docs):
    rng = np.random.default_rng(seed)
    star_tables(out, rng)
    if corpus == "skew":
        skew_docs(out, rng, n_docs)
    else:
        fixture_docs(out, rng, n_docs)


if __name__ == "__main__":
    import sys
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3], int(sys.argv[4]))
