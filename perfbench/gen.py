"""Seeded input generator for the benchmark.

Everything a run feeds the library comes from here and from `--seed` alone:
the parquet tables (the schema of the testdata in TESTDATA.md: a TPC-H-like star, an
`events` stream, `documents` and `embeddings`), the sql-adhoc op order and
chained picks, and the index-ingest arrival batches, near-dup echoes,
takedown slices and probe vectors.  The same seed gives byte-identical
inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["key", "agg", "row", "scan", "slow", "fast", "table", "value",
         "part", "hash", "merge", "batch", "spark", "window", "order",
         "data", "column", "join", "small", "line", "customer", "query",
         "filter", "group", "big", "vector", "the", "a", "sort", "stream"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
DIM = 64


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _ts(days=None, micros=None):
    v = np.zeros(len(days if days is not None else micros), dtype="int64")
    if days is not None:
        v += days.astype("int64") * 86_400_000_000
    if micros is not None:
        v += micros.astype("int64")
    return pa.array(v, type=pa.timestamp("us"))


def doc_texts(rng, n):
    """`n` documents of 10-100 words; 5% are near-dups of an earlier doc
    (the original plus one appended word), a few are exact copies."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), lens.sum())
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    return texts


def unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM)).astype("float32")
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def documents(rng, n):
    texts = doc_texts(rng, n)
    ids = np.arange(n, dtype="int64")
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def embeddings(rng, n):
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(unit_vectors(rng, n)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype("int32")),
    }


def n_docs(sf):
    return max(500, int(50000 * sf))


def n_vecs(sf):
    return max(500, int(20000 * sf))


def tables(out, sf, seed, names):
    """Write the named tables at scale factor `sf` into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    n_cust = max(15, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(20, int(200000 * sf))
    n_ord = max(150, int(1500000 * sf))
    n_evt = max(1000, int(1000000 * sf))
    if "region" in names:
        _write(out, "region", {
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"])})
    if "nation" in names:
        k = np.arange(25, dtype="int32")
        _write(out, "nation", {
            "n_nationkey": pa.array(k),
            "n_name": pa.array([f"NATION_{i}" for i in k]),
            "n_regionkey": pa.array(k % 5)})
    if "customer" in names:
        k = np.arange(n_cust, dtype="int64")
        _write(out, "customer", {
            "c_custkey": pa.array(k),
            "c_name": pa.array([f"Customer#{i:09d}" for i in k]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": pa.array(np.round(rng.random(n_cust) * 11000 - 1000, 2)),
            "c_mktsegment": pa.array(rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], n_cust))})
    if "supplier" in names:
        k = np.arange(n_supp, dtype="int64")
        _write(out, "supplier", {
            "s_suppkey": pa.array(k),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in k]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": pa.array(np.round(rng.random(n_supp) * 11000 - 1000, 2))})
    if "part" in names:
        k = np.arange(n_part, dtype="int64")
        adj = np.array(["small", "large", "red", "blue", "green", "shiny",
                        "rusty", "plain"])
        noun = np.array(["ring", "widget", "bolt", "gear", "wheel", "spring",
                         "plate", "tube"])
        _write(out, "part", {
            "p_partkey": pa.array(k),
            "p_name": pa.array(np.char.add(np.char.add(
                adj[rng.integers(0, 8, n_part)], " "),
                noun[rng.integers(0, 8, n_part)])),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM",
                                           "PROMO", "SMALL", "STANDARD"],
                                          n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
            "p_retailprice": pa.array(np.round(900 + (k % 1000) / 10, 2))})
    # 1995-01-01 .. 2001-08-01 as days since the epoch.
    d0 = 9131
    odays = rng.integers(0, 2404, n_ord)
    if "orders" in names:
        _write(out, "orders", {
            "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(np.round(1000 + rng.random(n_ord) * 499000, 2)),
            "o_orderdate": _ts(days=d0 + odays),
            "o_orderpriority": pa.array(rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"], n_ord))})
    if "lineitem" in names:
        nl = rng.integers(1, 8, n_ord)
        ok = np.repeat(np.arange(n_ord, dtype="int64"), nl)
        ln = np.concatenate([np.arange(1, c + 1) for c in nl]).astype("int32")
        n = len(ok)
        qty = rng.integers(1, 51, n).astype("float64")
        _write(out, "lineitem", {
            "l_orderkey": pa.array(ok),
            "l_partkey": pa.array(rng.integers(0, n_part, n)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n)),
            "l_linenumber": pa.array(ln),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * (900 + rng.random(n) * 1200), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": _ts(days=d0 + odays[ok] + rng.integers(1, 121, n))})
    if "events" in names:
        step = 30 * 86_400_000_000 // n_evt
        micros = (1704067200_000_000 + np.arange(n_evt) * step
                  + rng.integers(0, 10_000_000, n_evt))
        _write(out, "events", {
            "event_id": pa.array(np.arange(n_evt, dtype="int64")),
            "ts": _ts(micros=micros),
            "user_id": pa.array(rng.integers(0, max(10, int(15000 * sf)), n_evt)),
            "event_type": pa.array(rng.choice(
                ["view", "click", "purchase", "signup", "error"], n_evt)),
            "value": pa.array(np.round(rng.random(n_evt) * 490 + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               rng.integers(0, 100, n_evt)])})
    if "documents" in names:
        _write(out, "documents", documents(rng, n_docs(sf)))
    if "embeddings" in names:
        _write(out, "embeddings", embeddings(rng, n_vecs(sf)))


def adhoc_plan(seed, subset, n_ops, chain_every=5):
    """Seeded op order over `subset`: back-to-back seeded permutations cut
    to `n_ops`; exactly one op in `chain_every` (seeded picks) is chained."""
    rng = np.random.default_rng([seed, 1])
    names = []
    while len(names) < n_ops:
        names.extend(subset[i] for i in rng.permutation(len(subset)))
    chained = set(rng.choice(n_ops, n_ops // chain_every, replace=False).tolist())
    return [{"def": names[i], "chained": i in chained} for i in range(n_ops)]


def ingest_plan(out, seed, sf, cycles, batch_docs, echo_share, batch_vecs,
                takedown, probes, probe_rows):
    """Index-ingest inputs: bootstrap corpora (80% of documents, two-thirds
    of embeddings) and `cycles` micro-batches, each written as parquet under
    `out/batches/<i>/` (docs, vecs, takedown ids, probe vectors)."""
    rng = np.random.default_rng([seed, 2])
    nd, nv = n_docs(sf), n_vecs(sf)
    docs = pq.read_table(os.path.join(out, "documents.parquet"))
    texts = docs.column("text").to_pylist()
    emb = pq.read_table(os.path.join(out, "embeddings.parquet"))
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    doc_order = rng.permutation(nd)
    boot_docs = np.sort(doc_order[:int(nd * 0.8)])
    held_docs = list(doc_order[int(nd * 0.8):])
    vec_order = rng.permutation(nv)
    boot_vecs = np.sort(vec_order[:nv * 2 // 3])
    held_vecs = list(vec_order[nv * 2 // 3:])
    next_doc, next_vec = 1_000_000, 1_000_000
    live = list(boot_vecs)
    seen_texts = [texts[i] for i in boot_docs]
    batches = []
    n_echo = int(round(batch_docs * echo_share))
    for c in range(cycles):
        bdir = os.path.join(out, "batches", str(c))
        os.makedirs(bdir)
        ids, btexts = [], []
        for _ in range(batch_docs - n_echo):
            if held_docs:
                i = held_docs.pop()
                ids.append(int(i))
                btexts.append(texts[i])
            else:
                t = doc_texts(rng, 1)[0]
                ids.append(next_doc)
                btexts.append(t)
                next_doc += 1
        for _ in range(n_echo):
            src = seen_texts[rng.integers(0, len(seen_texts))].split()
            j = rng.integers(0, len(src))
            src[j] = VOCAB[rng.integers(0, len(VOCAB))]
            ids.append(next_doc)
            btexts.append(" ".join(src + [VOCAB[rng.integers(0, len(VOCAB))]]))
            next_doc += 1
        seen_texts.extend(btexts)
        pq.write_table(pa.table({"doc_id": pa.array(ids, type=pa.int64()),
                                 "text": pa.array(btexts)}),
                       os.path.join(bdir, "docs.parquet"))
        vids, vv = [], []
        for _ in range(batch_vecs):
            if held_vecs and rng.random() < 0.5:
                i = held_vecs.pop()
                vids.append(int(i))
                vv.append(vecs[i])
            else:
                base = vecs[rng.integers(0, nv)]
                p = base + 0.05 * rng.standard_normal(DIM).astype("float32")
                vids.append(next_vec)
                vv.append((p / np.linalg.norm(p)).astype("float32"))
                next_vec += 1
        pq.write_table(pa.table({"vec_id": pa.array(vids, type=pa.int64()),
                                 "embedding": pa.array(vv, type=pa.list_(pa.float32()))}),
                       os.path.join(bdir, "vecs.parquet"))
        live.extend(vids)
        gone = [int(live.pop(rng.integers(0, len(live)))) for _ in range(takedown)]
        pq.write_table(pa.table({"vec_id": pa.array(gone, type=pa.int64())}),
                       os.path.join(bdir, "takedown.parquet"))
        qv = []
        for _ in range(probes * probe_rows):
            if rng.random() < 0.5:
                base = vecs[rng.integers(0, nv)]
                p = base + 0.05 * rng.standard_normal(DIM).astype("float32")
                qv.append((p / np.linalg.norm(p)).astype("float32"))
            else:
                qv.append(unit_vectors(rng, 1)[0])
        pq.write_table(pa.table({
            "qid": pa.array(np.arange(len(qv), dtype="int64")),
            "probe": pa.array(np.repeat(np.arange(probes), probe_rows).astype("int32")),
            "embedding": pa.array(qv, type=pa.list_(pa.float32()))}),
            os.path.join(bdir, "probes.parquet"))
        batches.append({
            "dir": bdir,
            "doc_bytes": sum(len(t.encode()) + 8 for t in btexts),
            "vec_bytes": len(vids) * (DIM * 4 + 8),
            "takedown_bytes": 8 * len(gone)})
    pq.write_table(pa.table({"doc_id": pa.array(boot_docs.astype("int64"))}),
                   os.path.join(out, "boot_docs.parquet"))
    pq.write_table(pa.table({"vec_id": pa.array(boot_vecs.astype("int64"))}),
                   os.path.join(out, "boot_vecs.parquet"))
    return {
        "boot_doc_bytes": sum(len(texts[i].encode()) + 8 for i in boot_docs),
        "boot_vec_bytes": len(boot_vecs) * (DIM * 4 + 8),
        "batches": batches}
