"""Seeded input generators. The program only ever sees what these write.

* ``tables``      TPC-H-like star schema plus ``events``, ``documents`` and
                  ``embeddings``, with the column names and parquet types of
                  the sf0.1 test corpus (olap_mix, dedup_gates).
* ``cdc_feed``    a Maxwell-faithful change stream for one table, written as
                  event-ordered queue files, plus its bootstrap snapshot and
                  DDL (cdc_serve).
* ``gate_feed``   documents and vectors with planted near-duplicates, split
                  into feed files (dedup_gates).
"""
import json
import os
import random
import re
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()


def _ts_us(days_from_1995):
    base = np.datetime64("1995-01-01", "us")
    return base + (np.asarray(days_from_1995) * 86_400_000_000).astype("timedelta64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))


def random_texts(rng, n):
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    words = np.array(WORDS, dtype=object)[idx]
    out, at = [], 0
    for k in lens:
        out.append(" ".join(words[at:at + k]))
        at += k
    return out


def random_unit_vectors(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def tables(out, seed, scale=0.1):
    """Write the ten corpus tables at ``scale`` (0.1 = 600k lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array("red hot new large small green tall".split(), dtype=object)
    noun = np.array("bolt anvil ring rod plate nut gear".split(), dtype=object)
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], dtype=object)
    names = adj[rng.integers(0, len(adj), n_part)] + " " + noun[rng.integers(0, len(noun), n_part)]
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names,
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)], dtype=object)[rng.integers(0, 25, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 1)})
    odays = rng.integers(0, 2404, n_ord)
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_ts_us(odays), pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                    dtype=object)[rng.integers(0, 5, n_ord)]})
    lok = rng.integers(0, n_ord, n_li, dtype=np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    rf = rng.integers(0, 3, n_li)
    ls = rng.integers(0, 2, n_li)
    _write(out, "lineitem", {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rf],
        "l_linestatus": np.array(["F", "O"], dtype=object)[ls],
        "l_shipdate": pa.array(_ts_us(odays[lok] + rng.integers(1, 122, n_li)), pa.timestamp("us"))})
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_ev, dtype=np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"],
                               dtype=object)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    n_doc, n_vec = int(50_000 * scale), int(20_000 * scale)
    texts = random_texts(rng, n_doc)
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "de", "es", "fr", "zh", "en"], dtype=object)[rng.integers(0, 7, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    # fixed whatever the seed: ann_lsh, the one query run on it, misses its
    # recall floor on every corpus of this size, so it counts as a failed
    # query in every round (see check.check_olap)
    vecs = random_unit_vectors(np.random.default_rng([0, 4]), n_vec)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(np.arange(n_vec, dtype=np.int32) % 10)})


# -------------------------------------------------------------- cdc feed

CDC_DB, CDC_TABLE = "shop", "customers"
# column -> type of the replicated table, in DDL order
CDC_COLS = [("id", "BIGINT"), ("name", "VARCHAR(64)"), ("email", "VARCHAR(128)"),
            ("balance", "DECIMAL(12,2)"), ("score", "INT"), ("status", "VARCHAR(16)"),
            ("note", "LONGTEXT"), ("event_id", "BIGINT")]
STATUSES = ["active", "idle", "vip", "closed"]
T0 = 1_704_067_200  # 2024-01-01T00:00:00Z, epoch seconds


def cdc_ddl_lines():
    cols = ", ".join(f"`{c}` {t}" + (" NOT NULL" if c == "id" else "") for c, t in CDC_COLS)
    ms = (T0 - 60) * 1000  # Maxwell DDL ts is epoch milliseconds
    return [json.dumps({"type": "database-create", "database": CDC_DB, "ts": ms,
                        "sql": f"CREATE DATABASE {CDC_DB}"}),
            json.dumps({"type": "table-create", "database": CDC_DB, "table": CDC_TABLE,
                        "ts": ms + 1, "sql": f"CREATE TABLE `{CDC_TABLE}` ({cols}) ENGINE=InnoDB"})]


class _Rows:
    """Draws column values; notes sometimes carry tab runs (sent as raw
    control characters, which the consumer's scrub turns into one space) or
    newlines (sent JSON-escaped, which survive)."""

    def __init__(self, rnd):
        self.rnd = rnd

    def note(self, tabs=True):
        rnd = self.rnd
        words = " ".join(rnd.choices(WORDS, k=4))
        r = rnd.random()
        if r < 0.03 and tabs:
            return words.replace(" ", "\t\t", 1)
        if r < 0.06:
            return words.replace(" ", "\n", 1)
        return words

    def value(self, col):
        rnd = self.rnd
        if col == "balance":
            return f"{rnd.randrange(10_000_000) / 100:.2f}"
        if col == "score":
            return rnd.randrange(1000)
        if col == "status":
            return rnd.choice(STATUSES)
        return self.note()

    def row(self, key, event_id, tabs=True):
        return {"id": key, "name": f"cust-{key}", "email": f"c{key}@example.com",
                "balance": self.value("balance"), "score": self.value("score"),
                "status": self.value("status"), "note": self.note(tabs), "event_id": event_id}


def canary(b):
    """Canary row -(b+1): fixed content whatever the seed, with a tab run in
    ``note``. Batch b updates only its ``score``. The reference keeps the
    bootstrapped note; the program, holding no stream state for the key,
    takes the whole post-image, whose note went through the consumer's
    scrub. The post-batch read reports the canary's note, so the read fails
    once per batch until that is mended."""
    k = -(b + 1)
    return {"id": k, "name": f"canary{k}", "email": "canary@example.com", "balance": "0.00",
            "score": 0, "status": "active", "note": "canary\t\tnote", "event_id": 0}


def _maxwell_line(etype, ts, data, old=None, xid=0):
    doc = {"database": CDC_DB, "table": CDC_TABLE, "type": etype, "ts": ts, "xid": xid,
           "commit": True, "data": data}
    if old is not None:
        doc["old"] = old
    # balance is a DECIMAL: Maxwell ships it as a JSON number
    s = BALANCE.sub(r'"balance":\1', json.dumps(doc, separators=(",", ":")))
    # tab runs inside values travel raw, as a consumer receiving unescaped
    # payloads sees them
    return s.replace("\\t", "\t")


BALANCE = re.compile(r'"balance":"(-?\d+\.\d+)"')


def cdc_feed(out, seed, n_keys, batch_events, n_batches, hot_keys, nopk_per_batch=2):
    """Write the snapshot, DDL and ``n_batches`` queue files of
    ``batch_events`` DML events each: one canary update, ``nopk_per_batch``
    pk-less events, the rest on the customer keys 1..n_keys and beyond."""
    rnd = random.Random(f"cdc-{seed}")
    rows = _Rows(rnd)
    os.makedirs(os.path.join(out, "queue_staged"), exist_ok=True)
    live = {k: rows.row(k, 0, tabs=False) for k in range(1, n_keys + 1)}
    canaries = [canary(b) for b in range(n_batches)]
    snap = {c: [r[c] for r in canaries] + [live[k][c] for k in sorted(live)] for c, _ in CDC_COLS}
    pq.write_table(pa.table({
        "id": pa.array(snap["id"], pa.int64()), "name": snap["name"], "email": snap["email"],
        "balance": pa.array([Decimal(b) for b in snap["balance"]], pa.decimal128(12, 2)),
        "score": pa.array(snap["score"], pa.int32()), "status": snap["status"],
        "note": snap["note"], "event_id": pa.array(snap["event_id"], pa.int64())}),
        os.path.join(out, "snapshot.parquet"))
    with open(os.path.join(out, "ddl.json"), "w") as f:
        f.write("\n".join(cdc_ddl_lines()) + "\n")
    dead = []  # deleted keys, candidates for re-insert
    next_key = n_keys + 1
    hot = rnd.sample(range(1, n_keys + 1), hot_keys)
    ts, event_id = T0, 0
    for b in range(n_batches):
        lines = []
        nopk_at = set(rnd.sample(range(1, batch_events), nopk_per_batch))
        for i in range(batch_events):
            # same-second runs: Maxwell DML ts is whole seconds, event_id orders them
            if rnd.random() < 0.6:
                ts += rnd.randrange(1, 400)
            event_id += 1
            if i == 0:
                row = dict(canaries[b], score=1, event_id=event_id)
                lines.append(_maxwell_line("update", ts, row, {"score": 0, "event_id": 0}, xid=event_id))
                continue
            if i in nopk_at:
                lines.append(json.dumps({"database": CDC_DB, "table": "audit_log", "type": "insert",
                                         "ts": ts, "data": {"actor": f"u{event_id}", "msg": "login"}},
                                        separators=(",", ":")))
                continue
            r = rnd.random()
            if r < 0.10:
                # insert: a brand-new key, or the re-insert of a deleted one
                if dead and rnd.random() < 0.5:
                    key = dead.pop(rnd.randrange(len(dead)))
                else:
                    key, next_key = next_key, next_key + 1
                row = rows.row(key, event_id)
                live[key] = row
                lines.append(_maxwell_line("insert", ts, row, xid=event_id))
            else:
                # skew: 80% of changes hit the hot subset
                key = hot[rnd.randrange(hot_keys)] if rnd.random() < 0.8 else 0
                while key not in live:
                    key = rnd.randrange(1, next_key)
                if r < 0.18:
                    lines.append(_maxwell_line("delete", ts, live[key], xid=event_id))
                    del live[key]
                    dead.append(key)
                else:
                    before = live[key]
                    changed = rnd.sample(["balance", "score", "status", "note"], rnd.randrange(1, 4))
                    after = dict(before, event_id=event_id)
                    for c in changed:
                        after[c] = rows.value(c)
                    changed.append("event_id")
                    live[key] = after
                    lines.append(_maxwell_line("update", ts, after,
                                               {c: before[c] for c in changed}, xid=event_id))
        # a few lines carry raw tab whitespace between JSON tokens
        for j in rnd.sample(range(len(lines)), max(1, len(lines) // 200)):
            lines[j] = lines[j].replace(",", ",\t", 1)
        with open(os.path.join(out, "queue_staged", f"batch-{b:05d}.json"), "w") as f:
            f.write("\n".join(lines) + "\n")


# ------------------------------------------------------------- gate feed

def gate_feed(out, seed, n_docs, n_vecs, n_files, planted_docs, planted_vecs):
    """Documents and vectors with planted near-duplicates. Returns the
    planted pairs (min id, max id)."""
    rng = np.random.default_rng([seed, 3])
    texts = random_texts(rng, n_docs)
    ids = list(range(n_docs))
    doc_pairs = []
    long_docs = [i for i, t in enumerate(texts) if len(t.split(" ")) >= 70]
    for k, src in enumerate(rng.choice(long_docs, planted_docs, replace=False)):
        toks = texts[src].split(" ")
        toks[-1] = "dup" if toks[-1] != "dup" else "merge"  # 1 of >= 68 shingles differs
        texts.append(" ".join(toks))
        ids.append(n_docs + k)
        doc_pairs.append((int(src), n_docs + k))
    order = rng.permutation(len(ids))
    docs = pa.table({"doc_id": pa.array(np.array(ids)[order], pa.int64()),
                     "text": [texts[i] for i in order]})
    vecs = random_unit_vectors(rng, n_vecs)
    vec_pairs, extra = [], []
    for k, src in enumerate(rng.choice(n_vecs, planted_vecs, replace=False)):
        w = vecs[src].copy()
        w[int(rng.integers(0, w.size))] += 0.01
        extra.append(w)
        vec_pairs.append((int(src), n_vecs + k))
    allv = np.vstack([vecs] + extra) if extra else vecs
    vorder = rng.permutation(len(allv))
    vt = pa.table({"vec_id": pa.array(vorder, pa.int64()),
                   "embedding": pa.array(list(allv[vorder]), pa.list_(pa.float32()))})
    for name, t in (("docs", docs), ("vecs", vt)):
        d = os.path.join(out, f"{name}_feed")
        os.makedirs(d, exist_ok=True)
        per = -(-t.num_rows // n_files)
        for f in range(n_files):
            pq.write_table(t.slice(f * per, per), os.path.join(d, f"part-{f:05d}.parquet"))
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {"doc_pairs": doc_pairs, "vec_pairs": vec_pairs,
            "n_docs": docs.num_rows, "n_vecs": vt.num_rows}
