"""Seeded inputs for the graft benchmark.

Two generators, both pure functions of (seed, size) down to the byte:

* ``release``: a synthetic ACeDB release for the ``migrate`` workload --
  one gzipped ``.ace`` dump per class with a Gene/Protein/CDS-heavy class
  mix, a gzipped patch dump with ``-D`` retractions and re-asserts, and an
  id catalog.  It also returns the ground truth the pipeline's outputs are
  checked against (surviving objects per class, QA rows, report lengths).
* ``lake``: a TPC-H-like parquet lake with the tables and column types the
  declared queries read (region ... lineitem, events, documents,
  embeddings), shaped like the lake the queries are tested on: uniform keys
  and measures, near-duplicate documents, label-clustered unit embeddings.
"""
import gzip
import io
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- release

# (class, share of objects, ident format).  Gene, Protein and CDS dominate,
# as in a WormBase dump; the per-class files therefore differ ~20x in size.
CLASSES = [
    ("Gene", 0.34, "WBGene{:08d}"),
    ("Protein", 0.24, "CE{:06d}"),
    ("CDS", 0.22, "F{:05d}.1"),
    ("Transcript", 0.08, "T{:05d}.a"),
    ("Variation", 0.06, "WBVar{:08d}"),
    ("Sequence", 0.04, "SEQ{:06d}"),
    ("Paper", 0.02, "WBPaper{:08d}"),
]
# tag -> multi-valued?  Multi-valued tags repeat with distinct values.
TAGS = {
    "Gene": [("CGC_name", False), ("Sequence_name", False),
             ("Other_name", True), ("Species", False),
             ("RNASeq FPKM", False), ("Reference", True)],
    "Protein": [("Peptide", False), ("Species", False), ("Motif", True),
                ("Molecular_weight", False)],
    "CDS": [("Method", False), ("Gene_ref", False), ("Source_exons", True),
            ("Brief_identification", False)],
    "Transcript": [("Method", False), ("Corresponding_CDS", False),
                   ("Exon", True)],
    "Variation": [("Public_name", False), ("Allele_type", False),
                  ("Affects_gene", True)],
    "Sequence": [("Length", False), ("DNA_source", False),
                 ("Clone", True)],
    "Paper": [("Title", False), ("Journal", False), ("Author", True),
              ("Year", False)],
}
# a catalog class the database lost entirely; Paper is left out of the
# catalog, so the QA full-outer join has rows on both sides
LOST_CLASS = "Expr_pattern"
UNCATALOGUED_CLASS = "Paper"

WORDS = ("alpha beta gamma delta kinase ligase receptor channel binding "
         "domain transport membrane nuclear zinc finger repeat").split()


def _value(rng, tag, n):
    if tag in ("RNASeq FPKM", "Molecular_weight", "Length", "Year"):
        return "{:.1f}".format(rng.uniform(0, 5000))
    if tag == "Species":
        return "Caenorhabditis elegans"
    words = [rng.choice(WORDS) for _ in range(rng.randrange(1, 4))]
    return " ".join(words) + "-{}".format(n)


def release(seed, n_objects, out_dir):
    """Write the release under ``out_dir``; return its ground truth."""
    rng = random.Random(seed)
    os.makedirs(os.path.join(out_dir, "dump"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "patches"), exist_ok=True)
    # class sizes: the fixed mix, jittered +-5% by the seed
    counts = [int(n_objects * share * rng.uniform(0.95, 1.05))
              for _, share, _ in CLASSES]
    objects = {}  # (cls, ident) -> list of (path, value) lines
    for (cls, _, fmt), n in zip(CLASSES, counts):
        for i in range(int(n)):
            ident = fmt.format(i + 1)
            lines = []
            for tag, multi in TAGS[cls]:
                if rng.random() < 0.2:
                    continue  # tag fan-out varies per object
                k = rng.randrange(1, 4) if multi else 1
                lines += [(tag, _value(rng, tag, j)) for j in range(k)]
            if not lines:
                lines = [(TAGS[cls][0][0], _value(rng, "", 0))]
            objects[(cls, ident)] = lines

    # patches: the seed picks which objects are edited, extended, partly
    # retracted, or fully retracted, and adds new objects
    patch = {}  # (cls, ident) -> list of (op, path, value)
    retracted = set()
    for key, lines in objects.items():
        u = rng.random()
        if u < 0.03:  # fully retracted: every datom gets a -D
            patch[key] = [("retract", p, v) for p, v in lines]
            retracted.add(key)
        elif u < 0.09:  # re-assert: -D old + new value in one patch
            p, v = rng.choice(lines)
            patch[key] = [("retract", p, v), ("assert", p, v + "-rev")]
        elif u < 0.12:  # extension with a new tag value
            patch[key] = [("assert", "Remark", _value(rng, "", 9))]
        elif u < 0.14 and len(lines) > 1:  # retract one datom only
            p, v = lines[0]
            patch[key] = [("retract", p, v)]
    new_objects = {}
    for (cls, _, fmt), n in zip(CLASSES, counts):
        for i in range(int(n) // 50):
            key = (cls, fmt.format(int(n) + i + 1))
            new_objects[key] = [(TAGS[cls][0][0], _value(rng, "", i))]
            patch[key] = [("assert", p, v) for p, v in new_objects[key]]

    def paragraph(key, body):
        cls, ident = key
        out = ['{} : "{}"'.format(cls, ident)]
        for op, path, value in body:
            out.append('{}{} "{}"'.format("-D " if op == "retract" else "",
                                          path, value))
        return "\n".join(out)

    def write_gz(path, paragraphs):
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
            f.write(("\n\n".join(paragraphs) + "\n").encode("utf-8"))
        with open(path, "wb") as f:
            f.write(buf.getvalue())

    datoms = 0
    for cls, _, _ in CLASSES:
        paras = [paragraph(k, [("assert", p, v) for p, v in ls])
                 for k, ls in objects.items() if k[0] == cls]
        datoms += sum(len(ls) for k, ls in objects.items() if k[0] == cls)
        write_gz(os.path.join(out_dir, "dump", cls + ".ace.gz"), paras)
    write_gz(os.path.join(out_dir, "patches", "patch-0001.ace.gz"),
             [paragraph(k, b) for k, b in sorted(patch.items())])
    datoms += sum(len(b) for b in patch.values())

    catalog = {cls: int(n) for (cls, _, _), n in zip(CLASSES, counts)
               if cls != UNCATALOGUED_CLASS}
    catalog[LOST_CLASS] = rng.randrange(5, 50)
    with open(os.path.join(out_dir, "id_catalog.csv"), "w") as f:
        f.write('"class_name","n_ref"\n')
        for cls in sorted(catalog):
            f.write('"{}","{}"\n'.format(cls, catalog[cls]))

    # ground truth: replay latest-wins (base ts 0, patch ts 1; per (e, path)
    # the max (ts, assert-over-retract, value) row wins; keep asserts)
    winner = {}
    for (cls, ident), lines in objects.items():
        for p, v in lines:
            k = ("{}:{}".format(cls, ident), ".".join(p.split()))
            winner[k] = max(winner.get(k, (-1, 0, "")), (0, 1, v))
    for (cls, ident), body in patch.items():
        for op, p, v in body:
            k = ("{}:{}".format(cls, ident), ".".join(p.split()))
            winner[k] = max(winner.get(k, (-1, 0, "")),
                            (1, 1 if op == "assert" else 0, v))
    alive = {}
    for (e, _), (_, rank, _) in winner.items():
        if rank == 1:
            alive.setdefault(e.split(":")[0], set()).add(e)
    n_db = {cls: len(es) for cls, es in alive.items()}
    qa = {}
    for cls in set(n_db) | set(catalog):
        ref, db = catalog.get(cls, 0), n_db.get(cls, 0)
        qa[cls] = {"n_ref": ref, "n_db": db, "n_diff": db - ref}
    return {
        "objects": len(objects),
        "datoms": datoms,
        "retracted": len(retracted),
        "patched": len(patch),
        "qa": qa,
        "markdown_lines": 2 + len(qa),
        "html_lines": 5 + len(qa),
        # one part file + its .crc per class directory, the store's
        # _SUCCESS + .crc, and the two report files
        "archive_entries": 2 * len(n_db) + 2 + 2,
    }


# ------------------------------------------------------------------- lake

def _ts(base, seconds):
    return (np.datetime64(base, "us") +
            (np.asarray(seconds) * 1_000_000).astype("timedelta64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


DOC_WORDS = ("join hash row batch scan column customer filter small slow "
             "merge order vector line table data agg value key stream "
             "window a spark part group big sort query fast the").split()


def lake(seed, sf, out_dir):
    """Write the lake's ten tables as ``<out_dir>/<table>.parquet``."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": ["NATION_{}".format(i) for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": ["Customer#{:09d}".format(i) for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": ["Supplier#{:09d}".format(i) for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array("small large red blue hot old new cold".split())
    noun = np.array("ring widget bolt gear gizmo plate rod anvil".split())
    types = np.array(["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD",
                      "PROMO"])
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)],
                                          " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * 86400),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]})
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02",
                          rng.integers(0, 2498, n_line) * 86400)})
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    write("events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts("2024-01-01", np.round(np.cumsum(gaps), 6)),
        "user_id": pa.array(rng.integers(0, max(50, int(15000 * sf)), n_ev),
                            i64),
        "event_type": np.array(["click", "view", "purchase", "signup",
                                "error"])[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 490.02, n_ev),
        "props": ['{{"k": {}}}'.format(k) for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.06:  # near-duplicate of an earlier doc
            src = texts[int(rng.integers(0, i))]
            w = src.split()
            texts.append(src + " dup" if rng.random() < 0.5 or len(w) < 12
                         else " ".join(w[:-1]))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(DOC_WORDS[w]
                                  for w in rng.integers(0, len(DOC_WORDS), n)))
    langs = np.array(["en", "en", "en", "es", "fr", "zh", "de"])
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": ["src{}".format(i % 20) for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = 0.05 * centers[labels] + rng.normal(size=(n_emb, 64)) / 8
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return {t: n for t, n in [("lineitem", n_line), ("orders", n_ord),
                              ("customer", n_cust), ("part", n_part),
                              ("supplier", n_supp), ("events", n_ev),
                              ("documents", n_doc), ("embeddings", n_emb),
                              ("nation", 25), ("region", 5)]}
