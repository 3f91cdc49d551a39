"""Correctness gates and metric computation for one benchmark run.

`verify` runs the untimed checks: serve queries against their DuckDB
oracle, the ingest exactly-once readback, and the ANN and dedup recall.
`report` turns the harness record into the named metrics.
"""
import datetime as dt
import glob
import json
import math
import os
import re
import statistics
import struct

import numpy as np
import pyarrow.parquet as pq

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# ---------------------------------------------------------------- checks

def _norm_type(t):
    # Type equivalences the query contract tolerates (see tools/compare.py).
    t = str(t).replace("TIMESTAMP WITH TIME ZONE", "TIMESTAMP").replace("TIMESTAMP_NS", "TIMESTAMP")
    t = re.sub(r"\bFLOAT\b", "DOUBLE", t)
    t = re.sub(r"\b(TINYINT|SMALLINT|INTEGER)\b", "BIGINT", t)
    return re.sub(r"\bDATE\b", "TIMESTAMP", t)


def _same(a, b):
    # DATE and TIMESTAMP compare as one type (see _norm_type).
    if type(a) is dt.date:
        a = dt.datetime(a.year, a.month, a.day)
    if type(b) is dt.date:
        b = dt.datetime(b.year, b.month, b.day)
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return struct.pack("<d", a) == struct.pack("<d", b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare_query(con, files, oracle):
    """None when the Spark output equals the oracle's, else the reason.
    Columns are compared by name, values exactly (doubles bit-for-bit)."""
    s_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
    o_rel = con.sql(oracle)
    s_types = dict(zip(s_rel.columns, map(_norm_type, s_rel.types)))
    o_types = dict(zip(o_rel.columns, map(_norm_type, o_rel.types)))
    if sorted(s_types) != sorted(o_types):
        return f"columns differ: {sorted(s_types)} vs {sorted(o_types)}"
    cols = sorted(s_types)
    bad = [c for c in cols if s_types[c] != o_types[c]]
    if bad:
        return "types differ: " + ", ".join(f"{c} {s_types[c]}/{o_types[c]}" for c in bad)
    sel = ", ".join(f'"{c}"' for c in cols)
    s_rows = con.sql(f"SELECT {sel} FROM read_parquet({files!r})").fetchall()
    o_rows = con.sql(f"SELECT {sel} FROM ({oracle})").fetchall()
    if len(s_rows) != len(o_rows):
        return f"row count {len(s_rows)} vs {len(o_rows)}"
    for i, (a, b) in enumerate(zip(s_rows, o_rows)):
        if not _same(list(a), list(b)):
            return f"row {i} differs: {a!r} vs {b!r}"[:300]
    return None


def _exact_top10(data):
    emb = pq.read_table(f"{data}/embeddings.parquet")
    ids = emb.column("vec_id").to_numpy()
    E = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    E /= np.linalg.norm(E, axis=1, keepdims=True)
    q = pq.read_table(f"{data}/ann_queries")
    qids = q.column("qid").to_numpy()
    Q = np.stack(q.column("qv").to_numpy(zero_copy_only=False)).astype(np.float64)
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    sims = Q @ E.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :10]
    return {int(qid): set(ids[row].tolist()) for qid, row in zip(qids, top)}


def verify_serve(res, data):
    import duckdb
    v = res["verify"]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = {}
    for name, oracle in sorted(v["oracle"].items()):
        files = sorted(glob.glob(os.path.join(v["query_outputs"], name, "*.parquet")))
        if not files:
            bad[name] = v["written"].get(name, "no output")
            continue
        try:
            why = compare_query(con, files, oracle)
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle error: {e}"[:300]
        if why:
            bad[name] = why
    exact = _exact_top10(data)
    ann_all = v["ann_all"]
    hits = sum(len(exact[int(q)] & set(nids)) for q, nids in ann_all.items())
    recall = hits / (10 * len(exact))
    # Serving is per query against a frozen index, so a timed batch must
    # return exactly what the all-queries batch returned for its queries.
    for ph in res["phases"].values():
        for op in ph["ops"]:
            if op["kind"] == "ann" and op["ok"] and any(
                    ann_all.get(q) != nids for q, nids in op["results"].items()):
                op["ok"], op["error"] = False, "answers differ from the all-queries batch"
    # Planted near-duplicate pairs each dedup pipeline reported.
    with open(f"{data}/planted_pairs.json") as f:
        planted = {tuple(p) for p in json.load(f)}
    dedup = {}
    for name in ("llm_dedup_near", "llm_dedup_ngram_jaccard"):
        files = sorted(glob.glob(os.path.join(v["query_outputs"], name, "*.parquet")))
        found = {tuple(r) for r in con.sql(f"SELECT id_a, id_b FROM read_parquet({files!r})").fetchall()} \
            if files else set()
        dedup[name] = len(planted & found) / len(planted)
    problems = [f"query {k} disagrees with its oracle: {w}" for k, w in sorted(bad.items())]
    if len(ann_all) != len(exact):
        problems.append(f"the all-queries ANN batch answered {len(ann_all)} of {len(exact)} queries")
    return {"query_mismatch": bad, "ann_recall_at_10": recall, "dedup_recall": dedup,
            "problems": problems}


def verify_ingest(res, data):
    with open(f"{data}/expected.json") as f:
        expected = {e["segment"]: e for e in json.load(f)}
    problems, share = [], {}
    for tag, rb in res["verify"].items():
        want = {}
        for seg in rb["segments"]:
            for k, n in expected[seg]["buckets"].items():
                want[k] = want.get(k, 0) + n
        total = sum(want.values())
        for sink in ("loader", "reload"):
            got = rb[sink]
            landed_once = sum(min(got["buckets"].get(k, 0), n) for k, n in want.items())
            share[f"{tag}.{sink}"] = landed_once / total * min(1.0, got["distinct_event_id"] / max(1, got["rows"]))
            if got["rows"] != total:
                problems.append(f"{tag} {sink}: landed {got['rows']} rows, generated {total}")
            if got["distinct_event_id"] != got["rows"]:
                problems.append(f"{tag} {sink}: {got['rows'] - got['distinct_event_id']} duplicate event_id")
            if got["buckets"] != want:
                problems.append(f"{tag} {sink}: per-(event_type, d) counts differ")
    return {"exactly_once_share": share, "problems": problems}


def verify(workload, res, data):
    v = {"serve": verify_serve, "ingest": verify_ingest}[workload](res, data)
    failed_ops = [f"{o['kind']} {o['name']}: {o['error']}" for ph in res["phases"].values()
                  for o in ph["ops"] if not o["ok"]]
    v["failed_ops"] = failed_ops[:20]
    v["problems"] += [f"op failed: {m}" for m in failed_ops[:5]]
    v["correct"] = not v["problems"]
    return v


# --------------------------------------------------------------- metrics

def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (label, value); the maximum when there are ten samples or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return "max", xs[-1]
    return f"p{100.0 * (n - 10) / n:.0f}", xs[n - 11]


def _mark_wrong(res, verdict):
    """An op counts as failed when it threw or its result is wrong."""
    bad_queries = verdict.get("query_mismatch", {})
    for ph in res["phases"].values():
        for o in ph["ops"]:
            if o["kind"] == "query" and o["name"] in bad_queries:
                o["ok"] = False


def end_to_end(workload, res, verdict, tag):
    ops = res["phases"][tag]["ops"]
    m, lines = {}, []
    if workload == "ingest":
        primary = [o["s"] for o in ops if o["kind"] == "round"]
        bulk = [o for o in ops if o["kind"] in ("catchup", "reload")]
        items = sum(o["events"] for o in bulk) / sum(o["s"] for o in bulk)
        quality = min(v for k, v in verdict["exactly_once_share"].items() if k.startswith(tag))
        names = ("ingest_events_per_s", "events/s", "ingest_round", "exactly_once_share")
        n_items = sum(o["events"] for o in bulk)
    elif workload == "serve":
        primary = [o["s"] for o in ops]
        span = max(o["start"] + o["s"] for o in ops) - min(o["start"] for o in ops)
        items = len(ops) / span
        quality = verdict["ann_recall_at_10"]
        names = ("serve_ops_per_s", "ops/s", "serve_op", "ann_recall_at_10")
        n_items = len(ops)
        for kind, label in (("query", "query"), ("ann", "ann")):
            xs = [o["s"] for o in ops if o["kind"] == kind]
            if xs:
                tl, tv = tail(xs)
                lines.append(f"{label}_p50_s = {statistics.median(xs):.4f} s (n={len(xs)})")
                lines.append(f"{label}_tail_s = {tv:.4f} s ({tl}, n={len(xs)})")
    failed = sum(1 for o in ops if not o["ok"])
    tl, tv = tail(primary)
    m["setup_s"] = res["session_s"] + res["gen_s"] + res["once_s"] + statistics.median(res["prep_s"])
    m["items_per_s"] = items
    m["op_p50_s"] = statistics.median(primary)
    m["op_tail_s"] = tv
    m["quality"] = quality
    m["ok_share"] = 1.0 - failed / len(ops)
    m["peak_rss_mb"] = res["peak_rss_mb"]
    lines += [
        f"setup_s = {m['setup_s']:.3f} s (session {res['session_s']:.2f} + generate {res['gen_s']:.2f}"
        f" + warm-up {res['once_s']:.2f} + median of {len(res['prep_s'])} preps "
        f"{statistics.median(res['prep_s']):.2f}; preps {[round(x, 2) for x in res['prep_s']]})",
        f"{names[0]} = {items:.2f} {names[1]} (n={n_items})  [items_per_s]",
        f"{names[2]}_p50_s = {m['op_p50_s']:.4f} s (n={len(primary)})  [op_p50_s]",
        f"{names[2]}_tail_s = {tv:.4f} s ({tl}, n={len(primary)})  [op_tail_s]",
        f"{names[3]} = {quality:.4f} (deterministic per seed)  [quality]",
        f"error_rate = {failed / len(ops):.4f} ({failed}/{len(ops)} ops)  [ok_share = {m['ok_share']:.4f}]",
        f"peak_rss_mb = {m['peak_rss_mb']:.1f} MB (JVM VmHWM)",
    ]
    if workload == "serve":
        lines.append(f"dedup_recall = {min(verdict['dedup_recall'].values()):.4f} "
                     f"(planted near-duplicate pairs found / planted, by pipeline "
                     f"{verdict['dedup_recall']}; deterministic per seed)")
    return m, lines, len(ops), failed


LAYER_METRICS = {
    "streaming.IncrementalLoader": ["round_s", "microbatches", "jobs", "sched_wait_s",
                                    "files_written", "rows_read_per_row_landed"],
    "operators.Ingest": ["write_s", "shuffle_bytes", "output_bytes_per_event",
                         "files_per_bucket", "task_busy_s"],
    "sources": ["load_s", "input_bytes"],
    **{f"operators.{f}": ["query_s", "plan_s", "jobs", "shuffle_bytes", "spill_bytes",
                          "task_busy_s", "sched_wait_s"]
       for f in ("Relational", "Aggregates", "Joins", "Windows", "TimeSeries")},
    "operators.Graph": ["query_s", "plan_s", "jobs", "task_busy_s"],
    "functions": ["query_s", "task_cpu_s"],
    "llm.Similarity": ["serve_s", "rows_scanned_per_result", "jobs", "index_build_s",
                       "shuffle_bytes"],
    "llm.Dedup": ["pass_s", "shuffle_records_per_doc", "spill_bytes", "task_cpu_s"],
    "llm.TextStats": ["pass_s", "task_cpu_s"],
    "spark": ["gc_s", "failed_tasks", "task_busy_share", "leaked_tmp_entries",
              "codegen_compiles", "jit_s"],
    "trace": ["overhead_share"],
}


def per_layer(workload, res, cpus, untraced_p50, e2e_traced):
    ph = res["phases"]["traced"]
    spans = ph["spans"]
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def subtree(s, key):
        return s["spark"].get(key, 0) + sum(subtree(c, key) for c in children.get(s["id"], []))

    def calls(name, parent=None):
        return [s for s in spans if s["name"] == name and
                (parent is None or by_id.get(s["parent"], {}).get("name") == parent)]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def dur(s):
        return s["end"] - s["start"]

    def ratio(num, den):
        return num / den if den else 0.0

    out = {}
    for layer, metrics in LAYER_METRICS.items():
        for m in metrics:
            out[f"{layer}.{m}"] = 0.0
    # Per-call loader figures are over trickle rounds, the fixed-cost path;
    # the read/landed ratio also covers the catch-up.
    ld = calls("streaming.IncrementalLoader", "ingest.round")
    if ld:
        L = "streaming.IncrementalLoader"
        out[f"{L}.round_s"] = mean([dur(s) for s in ld])
        out[f"{L}.microbatches"] = mean([s["attrs"]["microbatches"] for s in ld])
        out[f"{L}.jobs"] = mean([subtree(s, "jobs") for s in ld])
        out[f"{L}.sched_wait_s"] = mean([subtree(s, "sched_wait_s") for s in ld])
        out[f"{L}.files_written"] = mean([s["attrs"]["files_written"] for s in ld])
        every = calls(L)
        out[f"{L}.rows_read_per_row_landed"] = ratio(
            sum(subtree(s, "input_records") for s in every), sum(s["attrs"]["rows_landed"] for s in every))
    ing = calls("operators.Ingest")
    if ing:
        L = "operators.Ingest"
        out[f"{L}.write_s"] = mean([dur(s) for s in ing])
        out[f"{L}.shuffle_bytes"] = mean([subtree(s, "shuffle_bytes") for s in ing])
        out[f"{L}.output_bytes_per_event"] = ratio(sum(s["attrs"]["output_bytes"] for s in ing),
                                                   sum(s["attrs"]["events"] for s in ing))
        out[f"{L}.files_per_bucket"] = ratio(sum(s["attrs"]["files"] for s in ing),
                                             sum(s["attrs"]["buckets"] for s in ing))
        out[f"{L}.task_busy_s"] = mean([subtree(s, "task_busy_s") for s in ing])
    if calls("sources"):
        out["sources.load_s"] = mean([dur(s) for s in calls("sources")])
        out["sources.input_bytes"] = mean([subtree(s, "input_bytes") for s in calls("serve.query")])
    for layer, metrics in LAYER_METRICS.items():
        fam = calls(layer, "serve.query")
        if not fam or layer.startswith("llm."):
            continue
        for m in metrics:
            if m == "query_s":
                out[f"{layer}.{m}"] = mean([dur(s) for s in fam])
            elif m == "plan_s":
                out[f"{layer}.{m}"] = mean([sum(dur(c) for c in children.get(s["id"], []) if c["name"] == "plan")
                                            for s in fam])
            else:
                out[f"{layer}.{m}"] = mean([subtree(s, m) for s in fam])
    sim = calls("llm.Similarity", "serve.ann")
    if sim:
        L = "llm.Similarity"
        out[f"{L}.serve_s"] = mean([dur(s) for s in sim])
        out[f"{L}.rows_scanned_per_result"] = ratio(sum(subtree(s, "input_records") for s in sim),
                                                    sum(s["attrs"].get("results", 0) for s in sim))
        out[f"{L}.jobs"] = mean([subtree(s, "jobs") for s in sim])
        out[f"{L}.shuffle_bytes"] = mean([subtree(s, "shuffle_bytes") for s in sim])
        # Index builds happen in set-up, timed at the call into the layer.
        out[f"{L}.index_build_s"] = statistics.median(res["verify"]["index_build_s"])
    dd = calls("llm.Dedup")
    if dd:
        L = "llm.Dedup"
        docs = gen.PROFILES["serve"]["documents"]
        out[f"{L}.pass_s"] = mean([dur(s) for s in dd])
        out[f"{L}.shuffle_records_per_doc"] = ratio(sum(subtree(s, "shuffle_records") for s in dd),
                                                    docs * len(dd))
        out[f"{L}.spill_bytes"] = mean([subtree(s, "spill_bytes") for s in dd])
        out[f"{L}.task_cpu_s"] = mean([subtree(s, "task_cpu_s") for s in dd])
    ts = calls("llm.TextStats")
    if ts:
        out["llm.TextStats.pass_s"] = mean([dur(s) for s in ts])
        out["llm.TextStats.task_cpu_s"] = mean([subtree(s, "task_cpu_s") for s in ts])
    allc = [s["spark"] for s in spans] + [ph["unattributed"]]
    out["spark.gc_s"] = ph["gc_s"]
    out["spark.failed_tasks"] = sum(c.get("failed_tasks", 0) for c in allc)
    out["spark.task_busy_share"] = sum(c.get("task_busy_s", 0) for c in allc) / (ph["wall_s"] * cpus)
    out["spark.leaked_tmp_entries"] = len(res["leaked_tmp_entries"])
    out["spark.codegen_compiles"] = ph["codegen_compiles"]
    out["spark.jit_s"] = ph["jit_s"]
    out["trace.overhead_share"] = e2e_traced["op_p50_s"] / untraced_p50 - 1.0
    return out


UNITS = {"_s": "s", "bytes": "bytes", "share": "ratio", "per_doc": "ratio", "per_event": "bytes",
         "per_result": "ratio", "per_row_landed": "ratio", "per_bucket": "ratio"}


def unit_of(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


E2E_UNITS = {"setup_s": "s", "items_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s",
             "quality": "ratio", "ok_share": "ratio", "peak_rss_mb": "MB"}


def report(workload, res, verdict, cpus, traced):
    _mark_wrong(res, verdict)
    m, lines, attempted, failed = end_to_end(workload, res, verdict, "untraced")
    if not traced:
        return {"lines": lines, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in m.items()}}
    mt, _, att_t, fail_t = end_to_end(workload, res, verdict, "traced")
    ma, _, att_a, fail_a = end_to_end(workload, res, verdict, "after")
    # The untraced phases before and after the traced one bracket it.
    untraced_p50 = (m["op_p50_s"] + ma["op_p50_s"]) / 2
    layers = per_layer(workload, res, cpus, untraced_p50, mt)
    lines += [f"traced: {k} = {v:.6g}" for k, v in sorted(layers.items()) if v]
    lines.append(f"tracing overhead on op_p50_s = {layers['trace.overhead_share'] * 100:.1f}% "
                 f"(traced {mt['op_p50_s']:.4f} s; untraced {m['op_p50_s']:.4f} s before, "
                 f"{ma['op_p50_s']:.4f} s after)")
    return {"lines": lines, "attempted": attempted + att_t + att_a,
            "failed": failed + fail_t + fail_a,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}}
