"""Seeded input generation for the benchmark.

Tables follow the schemas of the repository's synthetic star schema
(FIXTURES.md section B): one parquet file per table, one row group each,
so the `fanOutScan` path behaves as it does on the sf fixtures.
The MapReduce corpus is plain text with a Zipf vocabulary, some
upper-case tokens, some double spaces (the empty-string key) and about
0.5 % of lines containing "product".

Table contents come from a fixed seed, as the sf fixtures' do; the
run's seed only permutes their row order, so different seeds measure
the same data in a different physical order. The corpus itself is drawn
from the run's seed. The same seed always gives the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
ADJ = "red blue hot old small large green cold".split()
NOUN = "plate widget ring rod bolt gizmo gear nut".split()
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")

TABLE_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _write(out, name, cols, order_rng):
    t = pa.table(cols)
    t = t.take(order_rng.permutation(t.num_rows))
    pq.write_table(t, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(t.num_rows, 1))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base, offsets_us):
    return pa.array(base + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _docs_text(rng, n):
    lens = rng.integers(10, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # ~5 % near-duplicates: another document's text plus one token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return texts


def tables(out, sf, seed, names=TABLES):
    """Writes the named tables at scale factor `sf` into `out`, rows in
    an order drawn from `seed`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([TABLE_SEED, 1])
    order_rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(50_000 * sf)
    gen = {
        "region": lambda: {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": lambda: {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "customer": lambda: {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
        "supplier": lambda: {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
        "part": lambda: {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                                 rng.choice(NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)},
        "orders": lambda: {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _ts(EPOCH_1995, rng.integers(0, 2404, n_ord) * DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
        "lineitem": lambda: {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": np.round(rng.uniform(0, 0.10, n_li), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
            "l_returnflag": rng.choice(["R", "A", "N"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": _ts(EPOCH_1995, rng.integers(1, 2499, n_li) * DAY_US)},
        "events": lambda: {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(EPOCH_2024, np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
            "user_id": rng.integers(0, int(15_000 * sf), n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        "documents": lambda: _documents(rng, n_doc),
        "embeddings": lambda: _embeddings(rng, n_emb),
    }
    for name in names:
        _write(out, name, gen[name](), order_rng)


def _documents(rng, n):
    text = _docs_text(rng, n)
    return {"doc_id": np.arange(n, dtype=np.int64), "text": text,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64)}


def _embeddings(rng, n, dims=64, k=10):
    labels = rng.integers(0, k, n)
    centers = rng.normal(0, 1, (k, dims))
    v = centers[labels] * 0.15 + rng.normal(0, 1, (n, dims))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32()))
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb,
            "label": labels.astype(np.int32)}


def corpus(out, seed, files, lines_per_file, vocab=20_000):
    """Writes `files` text files; returns (bytes, lines)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    ranks = np.arange(1, vocab + 1)
    p = 1.0 / ranks ** 1.1
    p /= p.sum()
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(2, 9, vocab)
    vocab_words = np.array(["".join(rng.choice(letters, k)) for k in lens],
                           dtype=object)
    # some vocabulary entries are upper-case; the mapper lower-cases them
    upper = rng.random(vocab) < 0.05
    vocab_words[upper] = [w.upper() for w in vocab_words[upper]]
    total_bytes = total_lines = 0
    for f in range(files):
        n_tok = rng.integers(4, 16, lines_per_file)
        toks = vocab_words[rng.choice(vocab, int(n_tok.sum()), p=p)]
        cuts = np.cumsum(n_tok)[:-1]
        seps = rng.random(lines_per_file) < 0.02
        prod = rng.random(lines_per_file) < 0.005
        buf = []
        for i, line_toks in enumerate(np.split(toks, cuts)):
            words = list(line_toks)
            if prod[i]:
                words.insert(int(rng.integers(0, len(words) + 1)), "product")
            sep = "  " if seps[i] else " "
            buf.append(sep.join(words))
        data = ("\n".join(buf) + "\n").encode()
        with open(os.path.join(out, f"file{f:02d}"), "wb") as fh:
            fh.write(data)
        total_bytes += len(data)
        total_lines += lines_per_file
    return total_bytes, total_lines
