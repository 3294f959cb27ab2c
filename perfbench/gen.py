"""Seeded input generator for the benchmark.

Every input the program sees is made here from the run's seed; the same
seed always gives byte-identical inputs.

- `tables`: the sf0.1-shaped star schema plus `events`, `documents` and
  `embeddings`, with the row counts, value ranges and parquet flavour of
  the project's sf0.1 test tables (one file, one row group, naive
  microsecond timestamps).
- `slot_archives`: one product zip per catalog slot, named by the
  `CatalogSource` identifier `MSG4-<epoch>`, holding an incompressible
  seeded payload and a short text member.
- `corpus`: the near-duplicate ingest corpus and its manifest.
"""
import io
import json
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SLOT_S = 900
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_S = 30 * 86400

DOC_WORDS = ("a the batch part spark line column order small sort fast value "
             "scan hash slow group agg filter query big key window row table "
             "stream merge data customer vector join").split()


def _write(path, table):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _ts(seconds):
    return (EVENTS_T0 + (np.asarray(seconds) * 1e6).astype("timedelta64[us]"))


def events_table(rng, n=100_000):
    step = EVENTS_SPAN_S / n
    secs = np.arange(n) * step + rng.uniform(0, step, n)
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(_ts(secs), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array(etypes[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _days(rng, lo, hi, n):
    d0 = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - d0).astype(int)
    return pa.array((d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]"),
                    pa.timestamp("us"))


def star_tables(rng):
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc, ns, np_, no = 15_000, 1_000, 20_000, 150_000
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(rng.integers(-99_999, 999_981, nc) / 100.0),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, nc)])})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(rng.integers(-99_999, 999_981, ns) / 100.0)})
    adj = np.array(["large", "hot", "blue", "small", "red", "green", "cold",
                    "shiny"])
    noun = np.array(["ring", "bolt", "anvil", "widget", "gear", "nut", "pipe",
                     "valve"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(
            adj[rng.integers(0, 8, np_)], " "), noun[rng.integers(0, 8, np_)])),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": pa.array(ptypes[rng.integers(0, 6, np_)]),
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(np_) % 1000) / 10.0,
                                           2))})
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(status[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(rng.integers(100_191, 49_999_319, no) / 100.0),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, no)])})
    # TPC-H layout: each order has lines 1..k, so (l_orderkey,
    # l_linenumber) is a key; rows are stored in shuffled order
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines)
            + 1).astype(np.int32)
    perm = rng.permutation(len(okey))
    okey, lnum = okey[perm], lnum[perm]
    nl = len(okey)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.integers(90_068, 210_000, nl) / 100.0 / 2.0, 2)
            .clip(900.68, 104999.91)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)})
    return out


def documents_table(rng, n=5_000, dup_share=0.1):
    """Word-soup documents; a `dup_share` of them copy an earlier document
    of at least 40 words with one word replaced (bigram Jaccard >= 0.90,
    far from the dedup queries' thresholds, so banded MinHash finds every
    planted pair and no unplanted one comes near)."""
    words = np.array(DOC_WORDS)
    texts = []
    long_docs = []
    for i in range(n):
        if long_docs and rng.random() < dup_share:
            src = texts[long_docs[rng.integers(0, len(long_docs))]].split(" ")
            src[rng.integers(0, len(src))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(8, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
            if k >= 40:
                long_docs.append(i)
    langs = np.array(["de", "en", "es", "fr", "zh"])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, 5, n)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})


def embeddings_table(rng, n=2_000, dim=64, labels=10):
    centroids = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centroids[label] + rng.normal(0.0, 1.0, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})


def tables(seed, out_dir, names):
    """Writes `<out_dir>/<name>.parquet` for each requested table."""
    os.makedirs(out_dir, exist_ok=True)
    made = {}
    rng = lambda k: np.random.default_rng([seed, k])
    if "events" in names:
        made["events"] = events_table(rng(1))
    if "documents" in names:
        made["documents"] = documents_table(rng(2))
    if "embeddings" in names:
        made["embeddings"] = embeddings_table(rng(3))
    if set(names) & {"region", "nation", "customer", "supplier", "part",
                     "orders", "lineitem"}:
        made.update(star_tables(rng(4)))
    for name in names:
        _write(os.path.join(out_dir, f"{name}.parquet"), made[name])


def slot_archives(seed, out_dir, first_slot, n_slots, payload_bytes):
    """One zip per slot `MSG4-<epoch>.zip` with `payload.bin` (seeded,
    incompressible) and `meta.txt`, both stored: deflate would only wrap
    the random payload in stored blocks. Returns {identifier: {member:
    bytes}}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 5])
    members = {}
    for k in range(n_slots):
        epoch = first_slot + k * SLOT_S
        ident = f"MSG4-{epoch}"
        m = {"payload.bin": rng.bytes(payload_bytes),
             "meta.txt": f"{ident} slot={epoch}\n".encode()}
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
            for name, data in m.items():
                z.writestr(zipfile.ZipInfo(name, (2024, 1, 1, 0, 0, 0)), data)
        with open(os.path.join(out_dir, f"{ident}.zip"), "wb") as f:
            f.write(buf.getvalue())
        members[ident] = m
    return members


def corpus(seed, out_path, batches, batch_size, dup_share, words=48,
           vocab=50_000):
    """The near-duplicate ingest corpus (doc_id, text, batch).

    Unique docs are `words` words drawn from a `vocab`-word vocabulary, so
    any two share almost no word bigram (Jaccard ~ 0). From batch 1 on, a
    `dup_share` of each batch copies a survivor of an earlier batch with
    one word replaced: at 48 words that keeps at least 45 of 49 bigrams,
    Jaccard >= 0.918 against the index's 0.60 threshold. A batch never
    copies the same survivor twice, so no batch holds a duplicate pair of
    its own. Returns the manifest: survivor ids and planted ids."""
    rng = np.random.default_rng([seed, 6])
    n_dup = int(round(batch_size * dup_share))
    ids, texts, bs = [], [], []
    survivors, planted = [], []
    next_id = 0
    for b in range(batches):
        k = n_dup if b > 0 else 0
        sources = rng.choice(len(survivors), size=k, replace=False) if k else []
        rows = []
        for _ in range(batch_size - k):
            rows.append((" ".join(f"w{x}" for x in rng.integers(0, vocab, words)),
                         True))
        for s in sources:
            src = texts[survivors[s]].split(" ")
            pos = rng.integers(0, words)
            src[pos] = f"x{rng.integers(0, vocab)}"
            rows.append((" ".join(src), False))
        order = rng.permutation(len(rows))
        batch_survivors = []
        for j in order:
            text, unique = rows[j]
            ids.append(next_id)
            texts.append(text)
            bs.append(b)
            (batch_survivors if unique else planted).append(next_id)
            next_id += 1
        # survivors index into `texts` by position == doc id
        survivors.extend(batch_survivors)
    _write(out_path, pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "batch": pa.array(bs, pa.int64())}))
    return {"survivors": sorted(survivors), "planted": sorted(planted)}


def write_manifest(path, manifest):
    with open(path, "w") as f:
        json.dump(manifest, f)
