"""Output checks made apart from the program, run after the timed part.

Each ``check_*`` returns a list of error strings (empty = correct) plus a
dict of facts the per-layer metrics reuse. ``corrupt`` deliberately damages
the program's output before it is compared, to show a check can fail.
"""
import glob
import hashlib
import json
import os
import re
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

SCRUB = re.compile(r"[\t\r\n]+")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


# ------------------------------------------------------------- cdc_serve

def _typed(col, v):
    if v is None:
        return None
    if col in ("id", "score", "event_id"):
        return int(v)
    if col == "balance":
        return Decimal(str(v)).quantize(Decimal("0.01"))
    return str(v)


def _row_hash(key, row):
    canon = json.dumps([key, sorted((k, str(v)) for k, v in row.items())])
    return int.from_bytes(hashlib.blake2b(canon.encode(), digest_size=8).digest(), "little")


def replay(input_dir, queue_files):
    """The reference's process_events() semantics as a plain loop: start
    from the snapshot, scrub each raw line, apply events in (ts, event_id)
    order -- insert replaces the row, update sets the columns named in
    ``old``, delete removes it. Returns the replica and, per batch
    boundary, the figures the post-batch read reports."""
    snap = pq.read_table(os.path.join(input_dir, "snapshot.parquet")).to_pylist()
    live = {r["id"]: {k: _typed(k, v) for k, v in r.items()} for r in snap}
    boundaries, months, dead_letters = [], {}, 0
    for path in queue_files:
        events, touched = [], set()
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                e = json.loads(SCRUB.sub(" ", line), parse_float=Decimal)
                ts = e["ts"] // 1000 if e["ts"] >= 100_000_000_000 else e["ts"]
                m = pd.Timestamp(ts, unit="s").strftime("%Y-%m")
                months[m] = months.get(m, 0) + 1
                data = e.get("data")
                if e["type"] in ("insert", "update", "delete") and (data is None or "id" not in data):
                    dead_letters += 1
                    continue
                events.append((ts, int(data.get("event_id", 0)), e))
        for ts, _, e in sorted(events, key=lambda x: (x[0], x[1])):
            data = {k: _typed(k, v) for k, v in e["data"].items()}
            key = data["id"]
            touched.add(key)
            if e["type"] == "insert":
                live[key] = data
            elif e["type"] == "update":
                cur = live.get(key)
                live[key] = data if cur is None else {**cur, **{k: data[k] for k in e.get("old") or data}}
            elif e["type"] == "delete":
                live.pop(key, None)
        cust = [r for k, r in live.items() if k > 0]
        boundaries.append({
            "rows": len(cust),
            "sum_balance": sum((r["balance"] for r in cust), Decimal(0)),
            "sum_score": sum(r["score"] for r in cust),
            "sum_note_len": sum(len(r["note"]) for r in cust),
            "sum_event_id": sum(r["event_id"] for r in cust),
            "canary_note": live[-len(boundaries) - 1]["note"],
            "touched": len(touched)})
    return live, boundaries, months, dead_letters


def check_cdc(res, input_dir, corrupt=None):
    """Customer rows (keys > 0) must match the replay exactly; a read whose
    canary row differs from the reference is a failed read, counted in
    ``facts["failed_reads"]``."""
    errs, failed_reads = [], 0
    queue = sorted(glob.glob(os.path.join(os.path.dirname(res["replica"]), "queue", "*.json")))
    if len(queue) != len(res["batches"]):
        errs.append(f"{len(queue)} queue files for {len(res['batches'])} applied batches")
    live, bounds, months, dead = replay(input_dir, queue)
    reads = sorted(res["batches"], key=lambda b: b["batch"])
    if len(reads) != len(bounds):
        errs.append(f"{len(reads)} applied batches, {len(bounds)} expected")
    for b, (got, want) in enumerate(zip(reads, bounds)):
        g = dict(got["read"], sum_balance=Decimal(got["read"]["sum_balance"]))
        failed_reads += got["canary_note"] != want["canary_note"]
        bad = [k for k in g if g[k] != want[k]]  # the customer rows
        if bad:
            errs.append(f"batch {b}: post-batch read {[(k, g[k], want[k]) for k in bad]}")
    # the replica itself: row count and an order-free checksum
    t = ds.dataset(res["replica"], format="parquet", partitioning="hive").to_table(
        columns=["database_name", "table_name", "pk", "state"]).to_pylist()
    got = {}
    for r in t:
        if r["database_name"] == "shop" and r["table_name"] == "customers" and int(r["pk"]) > 0:
            got[int(r["pk"])] = {k: _typed(k, v) for k, v in r["state"]}
    live = {k: v for k, v in live.items() if k > 0}
    if corrupt == "replica" and got:
        k = min(got)
        got[k] = dict(got[k], balance=got[k]["balance"] + Decimal("0.01"))
    sum_got = sum(_row_hash(k, v) for k, v in got.items()) % 2**64
    sum_want = sum(_row_hash(k, v) for k, v in live.items()) % 2**64
    if len(got) != len(live) or sum_got != sum_want:
        diff = [k for k in set(got) | set(live) if got.get(k) != live.get(k)][:3]
        errs.append(f"replica {len(got)} rows / checksum {sum_got:x}, replay {len(live)} rows / "
                    f"{sum_want:x}; e.g. keys {diff}: {[(got.get(k), live.get(k)) for k in diff]}")
    n_rejects = ds.dataset(res["rejects"], format="parquet").count_rows() \
        if os.path.isdir(res["rejects"]) else 0
    if n_rejects != dead:
        errs.append(f"dead-lettered {n_rejects}, planted {dead}")
    arch = ds.dataset(res["archive"], format="parquet", partitioning="hive").to_table(
        columns=["event_month"]).to_pandas()["event_month"].astype(str).value_counts().to_dict()
    if arch != months:
        errs.append(f"archive months {sorted(arch.items())} != {sorted(months.items())}")
    return errs, {"boundaries": bounds, "dead_letters": n_rejects, "failed_reads": failed_reads}


# -------------------------------------------------------------- olap_mix

def canon(df):
    """Sorted columns, integer widths unified, rows sorted by all columns
    (the comparison the repo's oracle sweep makes)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def duck(tables_dir, names=TABLES):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in names:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def exact_top3(emb_path):
    t = pq.read_table(emb_path)
    ids = np.asarray(t.column("vec_id"))
    v = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    s = v @ v.T
    np.fill_diagonal(s, -np.inf)
    out = set()
    for i in range(len(ids)):
        # cosine descending, ties by neighbor id
        out.update((int(ids[i]), int(ids[j])) for j in np.lexsort((ids, -s[i]))[:3])
    return out


def check_olap(res, tables_dir, corrupt=None, recall_floor=0.8):
    errs, facts = [], {}
    con = duck(tables_dir)
    dropped = False
    for q, sql in sorted(res["oracle_sql"].items()):
        got = pd.read_parquet(os.path.join(res["results"], q))
        if corrupt == "oracle" and not dropped and len(got):
            got, dropped = got.iloc[1:], True
        want = con.sql(sql).df()
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            errs.append(f"{q}: columns {list(g.columns)} != {list(w.columns)}")
        elif len(g) != len(w):
            errs.append(f"{q}: rows {len(g)} != {len(w)}")
        else:
            try:
                pd.testing.assert_frame_equal(g, w, check_dtype=True, check_exact=True)
            except AssertionError as e:
                errs.append(f"{q}: values differ: {str(e)[:300]}")
    ann = os.path.join(res["results"], "ann_lsh")
    if os.path.isdir(ann):
        got = pd.read_parquet(ann)
        approx = set(zip(got["query_id"].astype(int), got["neighbor_id"].astype(int)))
        exact = exact_top3(os.path.join(tables_dir, "embeddings.parquet"))
        recall = len(approx & exact) / len(exact)
        facts["ann_recall"] = recall
        # below the floor PipelineSpec asserts: the query failed its
        # contract (every round: the embeddings do not vary with the seed)
        facts["failed_queries"] = ["ann_lsh"] if recall < recall_floor else []
    facts["checked"] = len(res["oracle_sql"]) + (1 if os.path.isdir(ann) else 0)
    return errs, facts


# ----------------------------------------------------------- dedup_gates

def _pairs(path):
    if not os.path.isdir(path) or not glob.glob(os.path.join(path, "*.parquet")):
        return set()
    t = pq.read_table(path, columns=["id1", "id2"])
    return set(zip(t.column("id1").to_pylist(), t.column("id2").to_pylist()))


def shingles(text):
    toks = text.lower().split(" ")
    return {tuple(toks[i:i + 3]) for i in range(len(toks) - 2)}


def check_gates(res, input_dir, planted, corrupt=None):
    errs, facts = [], {}
    out = res["pairs"]
    lanes = {lane: _pairs(os.path.join(out, f"pairs_{lane}"))
             for lane in ("text", "emb", "image", "audio", "video")}
    if corrupt == "gates" and lanes["text"]:
        lanes["text"].discard(min(lanes["text"]))
    facts["pairs"] = {k: len(v) for k, v in lanes.items()}
    docs = pq.read_table(os.path.join(input_dir, "docs.parquet")).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    missing = [p for p in planted["doc_pairs"] if tuple(p) not in lanes["text"]]
    if missing:
        errs.append(f"text gate missed planted pairs {missing[:5]}")
    for a, b in lanes["text"]:
        sa, sb = shingles(text[a]), shingles(text[b])
        if len(sa & sb) / max(1, len(sa | sb)) < 0.8:
            errs.append(f"text pair {(a, b)} has jaccard < 0.8")
            break
    vt = pq.read_table(os.path.join(input_dir, "vecs.parquet"))
    vec = dict(zip(vt.column("vec_id").to_pylist(),
                   np.array(vt.column("embedding").to_pylist(), dtype=np.float64)))
    missing = [p for p in planted["vec_pairs"] if tuple(p) not in lanes["emb"]]
    if missing:
        errs.append(f"embedding gate missed planted pairs {missing[:5]}")
    for a, b in lanes["emb"]:
        va, vb = vec[a], vec[b]
        if va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)) < 0.9:
            errs.append(f"vector pair {(a, b)} has cosine < 0.9")
            break
    # perceptual lanes: the registered batch twins' brute-force oracle SQL
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(input_dir, 'docs.parquet')}')")
    for lane, q in (("image", "mm_phash"), ("audio", "mm_audio_phash"), ("video", "mm_video_phash")):
        want = set(map(tuple, con.sql(f"SELECT id1, id2 FROM ({res['oracle_sql'][q]})").fetchall()))
        if lanes[lane] != want:
            errs.append(f"{lane} gate: {len(lanes[lane])} pairs, oracle {len(want)}; "
                        f"e.g. {sorted(lanes[lane] ^ want)[:3]}")
    return errs, facts
