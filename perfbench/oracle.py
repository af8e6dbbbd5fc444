"""Independent answers for the benchmark's output check.

Declared queries are compared against DuckDB running the program's own
oracle SQL (`SparkEntry.oracleSql`) over the same generated tables, with
the comparison rules of tools/check_oracle.py: columns sorted by name,
rows sorted by every column, equal row counts, equal dtype kinds and
exactly equal values (integer width is tolerated).

MapReduce outputs are compared against a plain-Python count of the same
corpus that keeps the empty-string key, and against a plain-Python
filter for grep. Word-count part files must also hold exactly the keys
that md5(key) mod R sends there, in byte order.
"""
import collections
import hashlib
import json
import math
import numbers
import os
import re

import duckdb

from gen import TABLES


def check_queries(out_dir, data_dir):
    """Returns {query name: mismatch description} (empty when all match)."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
            want = con.execute(sql).df()
            why = _compare(got, want)
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            why = f"{type(e).__name__}: {e}"
        if why:
            bad[name] = why
    return bad


def _compare(got, want):
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    g = got[gc].sort_values(gc, kind="mergesort").reset_index(drop=True)
    w = want[wc].sort_values(wc, kind="mergesort").reset_index(drop=True)
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    kinds = [(c, str(g[c].dtype), str(w[c].dtype))
             for c in gc if g[c].dtype.kind != w[c].dtype.kind]
    if kinds:
        return f"dtype kinds differ: {kinds}"
    for c in gc:
        for i, (a, b) in enumerate(zip(g[c], w[c])):
            if not _same(a, b):
                return f"column {c} row {i}: {a!r} vs {b!r}"
    return None


def _same(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        return a == b or (isinstance(a, float) and isinstance(b, float)
                          and math.isnan(a) and math.isnan(b))
    if isinstance(a, numbers.Integral) and isinstance(b, numbers.Integral):
        return int(a) == int(b)
    return type(a) is type(b) and a == b


def _corpus_lines(corpus_dir):
    for f in sorted(os.listdir(corpus_dir)):
        with open(os.path.join(corpus_dir, f), encoding="utf-8") as fh:
            for line in fh:
                yield line.rstrip("\n")


def _parts(out_dir):
    names = sorted(n for n in os.listdir(out_dir) if n.startswith("part-"))
    parts = []
    for n in names:
        with open(os.path.join(out_dir, n), encoding="utf-8") as fh:
            parts.append(fh.read().splitlines())
    return parts


def word_counts(corpus_dir):
    counts = collections.Counter()
    split = re.compile("[ \t]")
    for line in _corpus_lines(corpus_dir):
        counts.update(tok.lower() for tok in split.split(line))
    return counts


def grep_lines(corpus_dir, query="product"):
    out = []
    for line in _corpus_lines(corpus_dir):
        s = line.strip()
        if s and query in s.lower():
            out.append(s)
    return sorted(out)


def check_word_count(out_dir, expected, reducers):
    parts = _parts(out_dir)
    if len(parts) != reducers:
        return f"{len(parts)} part files, expected {reducers}"
    got = {}
    for r, lines in enumerate(parts):
        keys = []
        for line in lines:
            k, _, v = line.rpartition("\t")
            got[k] = int(v)
            keys.append(k)
            want_r = int(hashlib.md5(k.encode()).hexdigest(), 16) % reducers
            if want_r != r:
                return f"key {k!r} in part {r}, md5 mod R gives {want_r}"
        if keys != sorted(keys, key=lambda s: s.encode()):
            return f"part {r} is not in byte order"
    if got != dict(expected):
        diff = sorted(set(got.items()) ^ set(expected.items()))[:3]
        return f"{len(got)} keys vs {len(expected)} expected; first differences {diff}"
    return None


def check_grep(out_dir, expected):
    got = [line for part in _parts(out_dir) for line in part]
    if sorted(got) != expected:
        return f"{len(got)} lines vs {len(expected)} expected"
    return None
