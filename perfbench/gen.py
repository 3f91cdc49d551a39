#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Every table follows the FIXTURES.md schemas and value domains, so the
program receives an ordinary `sfDir` and cannot tell generated data from
the reference fixtures. The same seed always yields byte-identical files;
`fingerprint()` hashes them and `python3 perfbench/gen.py --selfcheck`
proves both halves of that claim (same seed -> same fingerprint, another
seed -> another fingerprint).

Traffic properties per workload live in PROFILES, and only there: the
generator writes the workload's profile to `profile.json` in the data
directory, the harness takes every traffic decision from that file, and
run.py copies it into the result record. SOURCES says where each value
comes from: measured on the reference fixtures, taken from FIXTURES.md or
from the program's own defaults, or assumed (chosen for the benchmark, with
nothing measured behind it).
"""
import datetime as dt
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Events per distinct user_id in the reference events fixture (sf0.01:
# 10000 events over 150 users; the same ratio at sf0.001 and sf0.1).
FIXTURE_EVENTS_PER_USER = 10000 / 150

PROFILES = {
    # The loader's own job: a topic of parquet segments whose event_id is the
    # offset. user_id is zipf-skewed and a fixed share of events arrive late
    # (event time up to three days behind the stream), so day buckets are
    # revisited by later segments the way a real topic revisits them.
    "ingest": {"segment_events": 1500, "backlog_segments": 48,
               "trickle_pool": 240, "segments_per_round": 1,
               "max_files_per_trigger": 4, "user_zipf_a": 1.3,
               "late_fraction": 0.05, "late_max_days": 3, "event_days": 30},
    # One sf0.01-sized star schema plus events/documents/embeddings, and a
    # pool of fresh ANN query vectors drawn from the corpus' own clusters.
    "serve": {"lineitem": 60000, "orders": 15000, "customer": 1500,
              "part": 2000, "supplier": 100, "events": 10000,
              "users": 150, "user_zipf_a": 0.0, "late_fraction": 0.0,
              "documents": 2000, "doc_tokens": [10, 100], "near_dup_rate": 0.05,
              "clusters": 10, "ann_batches": 50, "ann_batch_size": 16,
              "ann_per_cycle": 5},
}
_ing = PROFILES["ingest"]
_ing["users"] = round((_ing["backlog_segments"] + _ing["trickle_pool"]) * _ing["segment_events"]
                      / FIXTURE_EVENTS_PER_USER)

_MEASURED = "measured on the reference fixtures"
_ASSUMED = "assumed"
SOURCES = {
    "ingest": {
        "segment_events": _ASSUMED + ": sized so a trickle round costs well under a second",
        "backlog_segments": _ASSUMED + ": 12 micro-batches at the loader's default of 4 files per trigger",
        "trickle_pool": _ASSUMED + ": more segments than the three phases of a traced run use",
        "segments_per_round": _ASSUMED + ": one new segment per scheduled run",
        "users": _MEASURED + ": the fixture's 66.7 events per user over the generated events",
        "user_zipf_a": _ASSUMED + ": the fixtures' user_id is uniform; the skew exercises hot keys",
        "late_fraction": _ASSUMED + ": the fixtures have no late events",
        "late_max_days": _ASSUMED,
        "event_days": _MEASURED + ": the fixture events span 30 days",
        "max_files_per_trigger": "the program's default (IncrementalLoader.runOnce)",
    },
    "serve": {
        "lineitem": "FIXTURES.md, sf0.01", "orders": "FIXTURES.md, sf0.01",
        "customer": "FIXTURES.md, sf0.01", "part": "FIXTURES.md, sf0.01",
        "supplier": "FIXTURES.md, sf0.01", "events": "FIXTURES.md, sf0.01",
        "users": _MEASURED + ": sf0.01 has 150 users",
        "user_zipf_a": _MEASURED + ": sf0.01 user_id is uniform (0 = no skew)",
        "late_fraction": _MEASURED + ": sf0.01 events have none",
        "documents": _ASSUMED + ": between sf0.01 (500) and sf0.1 (5000) so a serve cycle fits the window",
        "doc_tokens": _MEASURED + ": sf0.01 documents have 10 to 99 tokens",
        "near_dup_rate": _MEASURED + ": 4.8% of sf0.01 documents have a 3-shingle Jaccard >= 0.6 partner",
        "clusters": "FIXTURES.md: embeddings.label 0-9",
        "ann_batches": _ASSUMED, "ann_batch_size": _ASSUMED, "ann_per_cycle": _ASSUMED,
    },
}

VOCAB = ["scan", "column", "window", "order", "sort", "part", "agg", "value",
         "line", "key", "join", "merge", "group", "query", "a", "vector",
         "hash", "slow", "stream", "filter", "fast", "the", "batch", "spark",
         "table", "small", "data", "big", "customer", "row"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
DIM = 64


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _ts_us(start, seconds):
    base = int(dt.datetime(*start, tzinfo=dt.timezone.utc).timestamp()) * 10**6
    return base + np.asarray(seconds * 1e6, dtype=np.int64)


def _zipf_ids(rng, n, users, a):
    # Bounded zipf: rank r drawn with weight r^-a, then mapped through a
    # seeded permutation so the hot keys are not simply the low ids.
    w = 1.0 / np.arange(1, users + 1) ** a
    ranks = rng.choice(users, size=n, p=w / w.sum())
    return rng.permutation(users)[ranks].astype(np.int64)


def events_table(rng, first_id, n, users, zipf_a, late_frac, late_days,
                 start, span_s, tz):
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    secs = np.sort(rng.uniform(0, span_s, n))
    late = rng.random(n) < late_frac
    secs = np.where(late, np.maximum(0.0, secs - rng.uniform(3600, late_days * 86400, n)), secs)
    ts = pa.array(_ts_us(start, secs), pa.timestamp("us", tz=tz))
    return pa.table({
        "event_id": ids,
        "ts": ts,
        "user_id": _zipf_ids(rng, n, users, zipf_a),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(np.maximum(0.01, rng.exponential(50.0, n)), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    })


def documents_tables(rng, first_id, n, tokens, dup_rate, clusters):
    """documents + embeddings, with planted near-duplicate pairs.

    A planted duplicate copies an earlier document's text and appends one
    token, which keeps 3-shingle Jaccard far above the 0.6 threshold for
    every length drawn here; background pairs share almost no shingles.
    Embeddings are unit vectors around `clusters` random centres, and a
    near-duplicate document gets a near-copy of its source's vector.
    """
    texts, pairs = [], []
    centres = rng.normal(size=(clusters, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, clusters, n).astype(np.int32)
    vecs = centres[labels] * 0.6 + rng.normal(scale=0.6 / np.sqrt(DIM), size=(n, DIM))
    for i in range(n):
        if i >= 10 and rng.random() < dup_rate:
            src = int(rng.integers(0, i))
            while texts[src].endswith(" dup"):
                src = int(rng.integers(0, i))
            texts.append(texts[src] + " dup")
            pairs.append((first_id + src, first_id + i))
            labels[i] = labels[src]
            vecs[i] = vecs[src] + rng.normal(scale=0.01 / np.sqrt(DIM), size=DIM)
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(*tokens)))))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    docs = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": ["src%d" % k for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels,
    })
    return docs, emb, pairs, centres


def gen_serve(out, seed):
    p = PROFILES["serve"]
    r = lambda k: _rng(seed, k)
    L, O, C, P, S = (p[k] for k in ("lineitem", "orders", "customer", "part", "supplier"))
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": ["NATION_%d" % i for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    g = r(1)
    _write(pa.table({"s_suppkey": np.arange(S, dtype=np.int64),
                     "s_name": ["Supplier#%09d" % i for i in range(S)],
                     "s_nationkey": g.integers(0, 25, S).astype(np.int32),
                     "s_acctbal": np.round(g.uniform(-999.99, 9999.99, S), 2)}),
           f"{out}/supplier.parquet")
    g = r(2)
    adj = ["red", "small", "hot", "large", "old", "blue", "cold"]
    noun = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
    _write(pa.table({"p_partkey": np.arange(P, dtype=np.int64),
                     "p_name": ["%s %s" % (a, b) for a, b in zip(g.choice(adj, P), g.choice(noun, P))],
                     "p_brand": ["Brand#%d" % k for k in g.integers(1, 26, P)],
                     "p_type": g.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], P),
                     "p_size": g.integers(1, 51, P).astype(np.int32),
                     "p_retailprice": np.round(900 + (np.arange(P) % 1000) / 10.0, 2)}),
           f"{out}/part.parquet")
    g = r(3)
    _write(pa.table({"c_custkey": np.arange(C, dtype=np.int64),
                     "c_name": ["Customer#%09d" % i for i in range(C)],
                     "c_nationkey": g.integers(0, 25, C).astype(np.int32),
                     "c_acctbal": np.round(g.uniform(-999.99, 9999.99, C), 2),
                     "c_mktsegment": g.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], C)}),
           f"{out}/customer.parquet")
    g = r(4)
    day0 = dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc)
    odays = g.integers(0, (dt.datetime(2001, 8, 1, tzinfo=dt.timezone.utc) - day0).days + 1, O)
    day_us = 86400 * 10**6
    base_us = int(day0.timestamp()) * 10**6
    _write(pa.table({"o_orderkey": np.arange(O, dtype=np.int64),
                     "o_custkey": g.integers(0, C, O).astype(np.int64),
                     "o_orderstatus": g.choice(["F", "O", "P"], O),
                     "o_totalprice": np.round(g.uniform(1000, 500000, O), 2),
                     "o_orderdate": pa.array(base_us + odays * day_us, pa.timestamp("us")),
                     "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], O)}),
           f"{out}/orders.parquet")
    g = r(5)
    lo = g.integers(0, O, L)
    qty = g.integers(1, 51, L).astype(np.float64)
    ship = np.minimum(odays[lo] + g.integers(1, 122, L),
                      (dt.datetime(2001, 11, 4, tzinfo=dt.timezone.utc) - day0).days)
    _write(pa.table({"l_orderkey": lo.astype(np.int64),
                     "l_partkey": g.integers(0, P, L).astype(np.int64),
                     "l_suppkey": g.integers(0, S, L).astype(np.int64),
                     "l_linenumber": g.integers(1, 8, L).astype(np.int32),
                     "l_quantity": qty,
                     "l_extendedprice": np.round(qty * g.uniform(900, 2100, L), 2),
                     "l_discount": g.integers(0, 11, L) / 100.0,
                     "l_tax": g.integers(0, 9, L) / 100.0,
                     "l_returnflag": g.choice(["A", "N", "R"], L),
                     "l_linestatus": g.choice(["F", "O"], L),
                     "l_shipdate": pa.array(base_us + ship * day_us, pa.timestamp("us"))}),
           f"{out}/lineitem.parquet")
    _write(events_table(r(6), 0, p["events"], p["users"], p["user_zipf_a"],
                        p["late_fraction"], 1, (2024, 1, 1), 30 * 86400 - 1, None),
           f"{out}/events.parquet")
    docs, emb, pairs, centres = documents_tables(r(7), 0, p["documents"],
                                                 p["doc_tokens"], p["near_dup_rate"], p["clusters"])
    _write(docs, f"{out}/documents.parquet")
    _write(emb, f"{out}/embeddings.parquet")
    with open(f"{out}/planted_pairs.json", "w") as f:
        json.dump(pairs, f)
    # Fresh query vectors from the same mixture; qids sit far above every
    # corpus id so a query can never be mistaken for its own neighbour.
    g = r(8)
    nq = p["ann_batches"] * p["ann_batch_size"]
    q = centres[g.integers(0, p["clusters"], nq)] * 0.6 + g.normal(scale=0.6 / np.sqrt(DIM), size=(nq, DIM))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    _write(pa.table({"qid": np.arange(nq, dtype=np.int64) + 90_000_000,
                     "batch": (np.arange(nq) // p["ann_batch_size"]).astype(np.int32),
                     "qv": pa.array(list(q.astype(np.float32)), pa.list_(pa.float32()))}),
           f"{out}/ann_queries/part-0.parquet")


def gen_ingest(out, seed):
    """Segments land in pool/ and are staged into topic/ by the harness.
    expected.json holds, per segment, its event count and its per
    (event_type, day) counts for the exactly-once readback."""
    p = PROFILES["ingest"]
    n_seg = p["backlog_segments"] + p["trickle_pool"]
    per = p["segment_events"]
    span = p["event_days"] * 86400.0
    total = n_seg * per
    expected = []
    for s in range(n_seg):
        g = _rng(seed, 100 + s)
        t = events_table(g, s * per, per, p["users"], p["user_zipf_a"],
                         p["late_fraction"], p["late_max_days"], (2024, 3, 1),
                         span * per / total, "UTC")
        # Segment s covers the s-th slice of the event-time span.
        shift = int(span * s / n_seg * 1e6)
        ts = pc.add(t.column("ts").cast(pa.int64()), shift)
        t = t.set_column(1, "ts", ts.cast(pa.timestamp("us", tz="UTC")))
        _write(t, f"{out}/pool/seg-{s:06d}.parquet")
        days = pc.strftime(t.column("ts"), format="%Y-%m-%d").to_pylist()
        counts = {}
        for et, d in zip(t.column("event_type").to_pylist(), days):
            counts[f"{et}|{d}"] = counts.get(f"{et}|{d}", 0) + 1
        expected.append({"segment": f"seg-{s:06d}.parquet", "events": per, "buckets": counts})
    with open(f"{out}/expected.json", "w") as f:
        json.dump(expected, f, sort_keys=True)


GENERATORS = {"serve": gen_serve, "ingest": gen_ingest}


def generate(workload, out, seed):
    shutil.rmtree(out, ignore_errors=True)
    GENERATORS[workload](out, seed)
    with open(f"{out}/profile.json", "w") as f:
        json.dump(PROFILES[workload], f, sort_keys=True)
    return fingerprint(out)


def fingerprint(root):
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def selfcheck(root):
    """Same seed -> same fingerprint; another seed -> another fingerprint."""
    ok = True
    for w in GENERATORS:
        a = generate(w, f"{root}/a", 1)
        b = generate(w, f"{root}/b", 1)
        c = generate(w, f"{root}/c", 2)
        same, differs = a == b, a != c
        print(f"{w}: same seed equal={same} other seed differs={differs}")
        ok &= same and differs
    shutil.rmtree(root, ignore_errors=True)
    return ok


if __name__ == "__main__":
    if sys.argv[1:2] == ["--selfcheck"]:
        here = os.path.dirname(os.path.abspath(__file__))
        sys.exit(0 if selfcheck(os.path.join(os.path.dirname(here), ".bench_work", "selfcheck")) else 1)
    print(generate(sys.argv[1], sys.argv[2], int(sys.argv[3])))
