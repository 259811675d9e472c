#!/usr/bin/env python3
"""Side-by-side shape profile of parquet lakes, to check that the lake
``gen.lake`` writes for ``query_mix`` has the shape of a reference lake.

    python3 perfbench/lakeshape.py <lake dir> [<lake dir> ...]
    python3 perfbench/lakeshape.py --gen <seed> <sf> <reference lake dir> ...

Each lake directory holds ``<table>.parquet`` for the ten tables.  With
``--gen`` the script first generates the benchmark's lake for that seed
and scale into a temporary directory and profiles it in the first column.
Counts that grow with the scale are printed per 1000 lineitem rows, so
lakes of different scales line up.  Not run by the benchmark itself.
"""
import os
import sys
import tempfile

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402


def profile(lake):
    con = duckdb.connect()
    for t in ("customer supplier part orders lineitem events documents "
              "embeddings").split():
        con.execute("CREATE VIEW {0} AS SELECT * FROM '{1}/{0}.parquet'"
                    .format(t, lake))

    def one(sql):
        return con.execute(sql).fetchone()

    p = {}
    n_line = one("SELECT count(*) FROM lineitem")[0]
    per_k = 1000.0 / n_line
    for t in ("orders", "customer", "part", "supplier", "events",
              "documents", "embeddings"):
        p["rows %s / 1k lineitem" % t] = one(
            "SELECT count(*) FROM %s" % t)[0] * per_k
    # keys: uniqueness and foreign-key coverage
    p["orders with lines"] = one(
        "SELECT count(DISTINCT l_orderkey) / (SELECT count(*) FROM orders) "
        "FROM lineitem")[0]
    p["lines per order: mean"], p["lines per order: max"] = one(
        "SELECT avg(n), max(n) FROM (SELECT count(*) n FROM lineitem "
        "GROUP BY l_orderkey)")
    p["dup (order, linenumber)"] = one(
        "SELECT 1 - count(DISTINCT (l_orderkey, l_linenumber)) / count(*) "
        "FROM lineitem")[0]
    p["distinct parts per order"] = one(
        "SELECT avg(n) FROM (SELECT count(DISTINCT l_partkey) n FROM lineitem "
        "GROUP BY l_orderkey)")[0]
    p["copurchase pairs / 1k lineitem"] = one(
        "SELECT sum(n * (n - 1) / 2) FROM (SELECT count(DISTINCT l_partkey) n "
        "FROM lineitem GROUP BY l_orderkey)")[0] * per_k
    p["lines per part: max"] = one(
        "SELECT max(n) FROM (SELECT count(*) n FROM lineitem "
        "GROUP BY l_partkey)")[0]
    p["orders per customer: mean"], p["orders per customer: max"] = one(
        "SELECT avg(n), max(n) FROM (SELECT count(*) n FROM orders "
        "GROUP BY o_custkey)")
    p["customers with orders"] = one(
        "SELECT count(DISTINCT o_custkey) / (SELECT count(*) FROM customer) "
        "FROM orders")[0]
    p["suppliers per nation: max"] = one(
        "SELECT max(n) FROM (SELECT count(*) n FROM supplier "
        "GROUP BY s_nationkey)")[0]
    # measures
    p["l_quantity >= 45"] = one(
        "SELECT avg((l_quantity >= 45)::INT) FROM lineitem")[0]
    p["returnflag x linestatus groups"] = one(
        "SELECT count(*) FROM (SELECT DISTINCT l_returnflag, l_linestatus "
        "FROM lineitem)")[0]
    p["shipdate span (days)"] = one(
        "SELECT date_diff('day', min(l_shipdate), max(l_shipdate)) "
        "FROM lineitem")[0]
    # purchase graph of graph2_sssp: (customer, supplier) edges
    p["cust-supp edges / 1k lineitem"] = one(
        "SELECT count(*) FROM (SELECT DISTINCT o_custkey, l_suppkey FROM "
        "lineitem JOIN orders ON o_orderkey = l_orderkey)")[0] * per_k
    # events
    p["events per user: max"] = one(
        "SELECT max(n) FROM (SELECT count(*) n FROM events GROUP BY user_id)")[0]
    p["events users / 1k events"] = one(
        "SELECT count(DISTINCT user_id) * 1000.0 / count(*) FROM events")[0]
    # documents: length, vocabulary, duplicates
    p["words per doc: mean"], p["words per doc: max"] = one(
        "SELECT avg(len(string_split(text, ' '))), "
        "max(len(string_split(text, ' '))) FROM documents")
    p["vocabulary"] = one(
        "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) "
        "w FROM documents)")[0]
    p["exact duplicate docs"] = one(
        "SELECT 1 - count(DISTINCT text) / count(*) FROM documents")[0]
    texts = [r[0] for r in con.execute(
        "SELECT text FROM documents ORDER BY doc_id").fetchall()]
    owners = {}
    for i, t in enumerate(texts):
        w = t.split()
        for j in range(len(w) - 7):
            owners.setdefault(" ".join(w[j:j + 8]), set()).add(i)
    shared = set()
    for docs in owners.values():
        if len(docs) > 1:
            shared |= docs
    p["docs sharing an 8-gram"] = len(shared) / max(1, len(texts))
    p["n_chars == len(text)"] = one(
        "SELECT avg((n_chars = length(text))::INT) FROM documents")[0]
    # embeddings: dimension, labels, cluster tightness
    rows = con.execute("SELECT embedding, label FROM embeddings").fetchall()
    v = np.array([r[0] for r in rows], dtype=np.float64)
    lab = np.array([r[1] for r in rows])
    p["embedding dim"] = v.shape[1]
    p["labels"] = len(set(lab))
    p["embedding norm: mean"] = float(np.linalg.norm(v, axis=1).mean())
    cent = np.array([v[lab == k].mean(axis=0) for k in sorted(set(lab))])
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    vn = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = vn @ cent.T
    own = sims[np.arange(len(lab)), np.searchsorted(sorted(set(lab)), lab)]
    p["cosine to own centroid"] = float(own.mean())
    p["cosine to other centroids"] = float(
        (sims.sum(axis=1) - own).mean() / (len(cent) - 1))
    return p


def main(argv):
    lakes = argv
    tmp = None
    if argv and argv[0] == "--gen":
        seed, sf = int(argv[1]), float(argv[2])
        tmp = tempfile.TemporaryDirectory()
        gen.lake(seed, sf, tmp.name)
        lakes = [tmp.name] + argv[3:]
    if not lakes:
        print(__doc__)
        return 2
    profiles = [profile(d) for d in lakes]
    names = (["gen"] if tmp else []) + [
        os.path.basename(os.path.normpath(d)) for d in lakes[1 if tmp else 0:]]
    print("%-34s" % "" + "".join("%14s" % n[-14:] for n in names))
    for k in profiles[0]:
        print("%-34s" % k + "".join("%14.4g" % float(p[k]) for p in profiles))
    if tmp:
        tmp.cleanup()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
