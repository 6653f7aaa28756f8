"""Seeded input generators for the benchmark's three workloads.

Every generator writes only files under its output directory, returns
the ground truth the correctness checks compare against, and is a pure
function of (seed, size): the same seed gives byte-identical files
(zip entries carry a fixed timestamp, parquet files are written by
pyarrow with fixed options).

  ffiec(seed, out)   two quarterly FFIEC CDR bulk zips + taxonomy zip
  tables(seed, out)  the driver-contract tables the gate queries read
  corpus(seed, out)  documents with planted near-duplicate clusters and
                     clustered 64-d vectors for the similarity stores
"""
import hashlib
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIP_TIME = (2024, 1, 1, 0, 0, 0)

# ---------------------------------------------------------------- FFIEC

QUARTERS = ["03312024", "06302024"]

# (schedule, parts): three schedules, one of them in two parts, so each
# zip holds four schedule members, the POR member and a Readme. Real bulk
# zips carry ~45 schedules; processAll costs seconds per schedule here
# whatever its row count, so the count is cut to fit a run while every
# kind of member (single, "(i of n)" parts, POR) and every cell kind stays.
SCHEDULES = [("RC", 1), ("RCB", 2), ("RIE", 1)]
# schedules whose last column is free text with planted repairs
TEXT_SCHEDULES = ("RIE",)
XBRL = {"d": "xbrli:monetaryItemType", "i": "xbrli:integerItemType",
        "p": "xbrli:pureItemType", "l": "xbrli:booleanItemType",
        "s": "xbrli:stringItemType"}
LONG_DTYPE = {"d": "float", "p": "float", "i": "int", "l": "bool",
              "s": "str", "D": "date"}
POR_HEADER = ["IDRSSD", "FDIC Certificate Number", "OCC Charter Number",
              "Financial Institution Name", "Financial Institution City",
              "Financial Institution State",
              "Last Date/Time Submission Updated On"]
WORDS = ("alpha beta gamma delta kappa omega north south east west "
         "loan deposit trust capital branch note").split()


def _zip(path, entries):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in entries:
            info = zipfile.ZipInfo(name, date_time=ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            z.writestr(info, data)


def _items(rng):
    """Schedule -> part -> [(item, code)]; item codes are unique across
    schedules so the per-dtype long tables have no duplicate keys."""
    serial = 1000
    layout = {}
    for sched, parts in SCHEDULES:
        prefix = "RIAD" if sched.startswith("RI") else "RCON"
        per_part = []
        for _ in range(parts):
            cols = []
            for _ in range(int(rng.integers(5, 9))):
                serial += 7
                code = rng.choice(list("dddddiiplss"))
                cols.append((f"{prefix}{serial}", str(code)))
            per_part.append(cols)
        if sched == "RC":
            per_part[0][:3] = [(it, "d") for it, _ in per_part[0][:3]]
            per_part[0].append(("RCON9999", "D"))
        if sched in TEXT_SCHEDULES:
            serial += 7
            per_part[0].append((f"TEXT{serial}", "s"))  # must stay last
        layout[sched] = per_part
    return layout


def _cell(rng, code, q):
    r = rng.random()
    if code == "D":
        return "0" if r < 0.05 else "2024" + q[:4]
    if r < 0.04:
        return ""
    if r < 0.07 and code in "dip":
        return "CONF"
    if code == "d":
        return str(int(rng.integers(0, 5_000_000)))
    if code == "i":
        return str(int(rng.integers(0, 1000)))
    if code == "p":
        return f"{int(rng.integers(0, 10000)) / 100:.2f}%"
    if code == "l":
        return "true" if r < 0.5 else "false"
    return WORDS[int(rng.integers(len(WORDS)))] + str(int(rng.integers(100)))


def _typed(code, raw):
    """The value the pipeline should store for a raw cell, or None."""
    if raw in ("", "CONF") or (code == "D" and raw in ("0", "00000000")):
        return None
    if code == "d":
        return int(raw)
    if code == "p":
        return float(raw[:-1]) / 100.0
    return raw


def ffiec(seed, out, banks=2500, quarters=QUARTERS):
    """Quarterly bulk zips. Between the quarters RC gains an item and
    loses one, and the bank set drifts. Returns the ground truth."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    layout = _items(rng)
    added = ("RCON9001", "d")
    dropped = layout["RC"][0][0]
    schema = {it: XBRL[c] for parts in layout.values() for cols in parts
              for it, c in cols if c in XBRL}
    schema[added[0]] = XBRL[added[1]]
    xsd = "".join(f'  <xs:element name="{n}" type="{t}"/>\n'
                  for n, t in sorted(schema.items()))
    _zip(os.path.join(out, "_ffiec_taxonomy.zip"),
         [("taxonomy/concepts.xsd",
           '<?xml version="1.0"?>\n<xs:schema xmlns:xs='
           '"http://www.w3.org/2001/XMLSchema">\n' + xsd + "</xs:schema>\n")])
    pool = np.arange(10_000, 10_000 + banks * 2) * 3 + 7
    truth = {"dates": {}, "tsv_bytes": 0, "planted_rows": 0, "added_item": added[0]}
    for qi, q in enumerate(quarters):
        date = q[4:] + q[:4]
        ids = np.sort(rng.choice(pool, size=banks, replace=False))
        entries, wide, longs, sums, counts, repairs = [], {}, {}, {}, {}, {}
        for sched, parts in SCHEDULES:
            cols_by_part = [list(c) for c in layout[sched]]
            if qi == 1 and sched == "RC":
                cols_by_part[0] = [c for c in cols_by_part[0] if c != dropped] + [added]
            present = set()
            kinds = set()
            for pi, cols in enumerate(cols_by_part):
                keep = ids[rng.random(banks) >= 0.05]
                present.update(int(b) for b in keep)
                lines = ["\t".join(["IDRSSD"] + [c for c, _ in cols]) + "\t",
                         "\t".join(["ID"] + [f"desc {c}" for c, _ in cols]) + "\t"]
                for b in keep:
                    cells = [_cell(rng, code, q) for _, code in cols]
                    if sched in TEXT_SCHEDULES and pi == 0 and rng.random() < 0.02:
                        kind = "newline-join" if rng.random() < 0.5 else "tab-repair"
                        cells[-1] = "part one" + ("\n" if kind == "newline-join" else "\t") + "part two"
                        kinds.add(kind)
                        truth["planted_rows"] += 1
                    for (it, code), raw in zip(cols, cells):
                        v = _typed(code, raw)
                        if v is None:
                            continue
                        dt = LONG_DTYPE[code]
                        longs[dt] = longs.get(dt, 0) + 1
                        if code in "dp":
                            sums[it] = sums.get(it, 0) + v
                            counts[it] = counts.get(it, 0) + 1
                    lines.append("\t".join([str(int(b))] + cells) + "\t")
                suffix = f"({pi + 1} of {parts})" if parts > 1 else ""
                data = ("\n".join(lines) + "\n").encode()
                truth["tsv_bytes"] += len(data)
                entries.append((f"FFIEC CDR Call Schedule {sched} {q}{suffix}.txt", data))
            wide[sched.lower()] = len(present)
            repairs[sched.lower()] = sorted(kinds)
        por = ["\t".join(POR_HEADER)]
        for b in ids:
            por.append("\t".join([
                str(int(b)), str(int(rng.integers(0, 60000))), "0",
                f"Bank {int(b)}", WORDS[int(rng.integers(len(WORDS)))].title(),
                "NY", f"2024-{q[:2]}-15T10:30:00"]))
        data = ("\n".join(por) + "\n").encode()
        truth["tsv_bytes"] += len(data)
        entries.append((f"FFIEC CDR Call Bulk POR {q}.txt", data))
        entries.append(("Readme.txt", b"generated benchmark input\n"))
        _zip(os.path.join(out, f"FFIEC CDR Call Bulk All Schedules {q}.zip"), entries)
        truth["dates"][date] = {"wide": wide, "long": longs, "sums": sums, "counts": counts,
                                "repairs": repairs}
    truth["pivot_items"] = sorted(
        it for it, c in layout["RC"][0] if c == "d" and it != dropped[0])
    return truth


# ------------------------------------------------------- gate tables

DOC_WORDS = ("a agg batch big column customer data dup fast filter group hash "
             "join key line merge order part query row scan slow small sort "
             "spark stream table the value vector window").split()


def _table(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy",
                   use_dictionary=True, write_statistics=True)


def _ts(days_from_epoch_us):
    return pa.array(days_from_epoch_us.astype("int64"), pa.timestamp("us"))


def tables(seed, out, sf=0.01):
    """The region/nation/customer/supplier/part/orders/lineitem/events/
    documents/embeddings tables the gate queries read, in the layout and
    physical types of the repository's test tables, at scale factor `sf`."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), max(500, int(20_000 * sf)), int(15_000 * sf)
    day_us = 86_400 * 1_000_000
    d1995 = 9131 * day_us
    _table(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _table(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _table(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": seg[rng.integers(0, 5, n_cust)]})
    _table(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array("small red blue hot cold new old large".split())
    noun = np.array("ring widget bolt plate gear rod anvil".split())
    ptype = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _table(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 7, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptype[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    odate = d1995 + rng.integers(0, 2404, n_ord) * day_us
    _table(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]})
    okey = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    _table(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_line) * day_us)})
    t0 = 19723 * day_us  # 2024-01-01
    ts = np.sort(rng.integers(0, 30 * day_us, n_ev))
    _table(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(t0 + ts),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(n))])
             for n in rng.integers(10, 110, n_doc)]
    _table(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 6, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb)
    emb = centers[label] + rng.normal(scale=1.5, size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _table(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return {"sf": sf, "lineitem": n_line, "events": n_ev, "documents": n_doc}


# ----------------------------------------------- corpus + vectors

def corpus(seed, out, docs=2000, dup_rate=0.08, vectors=2000, queries=40):
    """Documents of ~300 chars over a 4k-word vocabulary. A `dup_rate`
    share of documents are planted near-duplicates of an earlier
    non-duplicate document with exactly one word substituted (3-word
    shingle Jaccard ~0.88, above the stores' 0.7 threshold). Vectors are
    unit-norm draws around 48 centers; `queries` held-out vectors serve
    the lookups. Returns the planted (dup, base) pairs."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    vocab = np.array([f"w{i:04d}{chr(97 + i % 26)}" for i in range(4000)])
    texts, dups, bases = [], [], []
    for i in range(docs):
        if i > 50 and rng.random() < dup_rate:
            base = bases[int(rng.integers(len(bases)))]
            w = texts[base].split(" ")
            w[int(rng.integers(len(w)))] = str(vocab[int(rng.integers(len(vocab)))])
            texts.append(" ".join(w))
            dups.append([i, base])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(42, 56)))]))
            bases.append(i)
    _table(f"{out}/docs.parquet", {
        "id": pa.array(np.arange(docs), pa.int64()), "text": texts})
    centers = rng.normal(size=(48, 64))
    lab = rng.integers(0, 48, vectors + queries)
    v = centers[lab] + rng.normal(scale=0.6, size=(vectors + queries, 64))
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    _table(f"{out}/vecs.parquet", {
        "id": pa.array(np.arange(vectors), pa.int64()),
        "vec": pa.array(list(v[:vectors]), pa.list_(pa.float64()))})
    _table(f"{out}/queries.parquet", {
        "qid": pa.array(np.arange(queries) + 1_000_000, pa.int64()),
        "vec": pa.array(list(v[vectors:]), pa.list_(pa.float64()))})
    return {"docs": docs, "vectors": vectors, "queries": queries,
            "dups": dups, "text_bytes": sum(len(t.encode()) for t in texts),
            "vec_bytes": vectors * 64 * 8}


def digest(root):
    """sha256 over every file under `root` (relative name + bytes)."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ffiec_warm(seed, out):
    """One small zip for warming up."""
    return ffiec(seed, out, banks=100, quarters=QUARTERS[:1])


GENERATORS = {"ffiec": ffiec, "ffiec_warm": ffiec_warm, "tables": tables, "corpus": corpus}
