"""Turn the harness's raw result (and spans, when traced) into named
metrics: end-to-end ones, report-only workload ones, and per-layer ones.
Each metric is a (value, unit) pair."""
import json
import os

import gen
import metrics as M

HEADLINE = ["q01_pricing_summary", "q03_top_orders", "q05_local_supplier_volume",
            "q09_product_profit", "q18_large_orders", "q20_window_rank",
            "q30_events_hourly", "q31_events_sessions", "q57_session_window",
            "q40_dedup_exact", "q91_duplicated_spans", "q51_knn_bruteforce",
            "q47_minhash_dup_pairs", "q86_bloom_decontaminate",
            "q59_topk_custom_operator", "q77_salted_skew_join"]


def units_per_s(res):
    return res["units"] / res["elapsed_s"]


def read_write(workload, res):
    """Timed call latencies (ms) split into calls that only read and calls
    that write: txn ops by kind; every headline query reads."""
    if workload == "lakehouse_txn":
        timed = [o for o in res["ops"] if o["timed"]]
        return ([o["ms"] for o in timed if o["kind"] in gen.LH_READS],
                [o["ms"] for o in timed if o["kind"] not in gen.LH_READS])
    return [s["ms"] for s in res["samples"]], []


def end_to_end(workload, res, gen_s):
    reads, _ = read_write(workload, res)
    return {
        "setup_s": (gen_s + res["setup_s"], "s"),
        "ops_per_s": (units_per_s(res), "ops/s"),
        "read_iqm_ms": (M.interquartile_mean(reads), "ms"),
    }


def workload_metrics(workload, res):
    """Report-only metrics in the workload's own terms."""
    reads, writes = read_write(workload, res)
    out = {
        "read_samples": (len(reads), "count"),
        "read_p50_ms": (M.median(reads), "ms"),
        "read_tail_ms": (M.tail_value(reads) or 0.0, "ms"),
        "read_tail_pct": (M.tail_pct(len(reads)) or 0.0, "%"),
        "write_samples": (len(writes), "count"),
        "write_p50_ms": (M.median(writes) or 0.0, "ms"),
        "write_tail_ms": (M.tail_value(writes) or 0.0, "ms"),
        "write_tail_pct": (M.tail_pct(len(writes)) or 0.0, "%"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    if workload == "lakehouse_txn":
        if "compact_bytes" in res:
            out["bytes_per_live_byte"] = (
                M.bytes_per_live_byte(res["table_bytes"], res["compact_bytes"]), "ratio")
    else:
        out["queries_per_s"] = (units_per_s(res), "q/s")
    return out


# ------------------------------------------------------------------ per layer

def load_trace(work):
    spans, jobs = [], []
    with open(os.path.join(work, "spans.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            (spans if r["type"] == "span" else jobs).append(r)
    return spans, jobs


def per_layer(workload, work, res, truth):
    """Per-layer metrics of the timed region: spans inside it (self time
    where a layer's spans nest), and the engine counters accumulated in it."""
    spans, jobs = load_trace(work)
    t0, t1 = res["timed_start_ns"], res["timed_end_ns"]
    spans = [s for s in spans if s["start_ns"] >= t0 and s["end_ns"] <= t1]
    self_ns = M.self_times(spans)
    ops = sum(map(len, read_write(workload, res)))
    wall_s = res["elapsed_s"]

    def of(layer, name=None, **attrs):
        return [s for s in spans if s["layer"] == layer and (name is None or s["name"] == name)
                and all(s["attrs"].get(k) == v for k, v in attrs.items())]

    def dur_ms(ss):
        return [(s["end_ns"] - s["start_ns"]) / 1e6 for s in ss]

    def self_ms(ss):
        return sum(self_ns[s["id"]] for s in ss) / 1e6

    def per_op(x):
        return x / ops if ops else 0.0

    def p50(xs):
        return M.median(xs) if xs else 0.0

    m = {}
    cat = of("catalog")
    m["catalog.calls"] = (len(cat), "count")
    m["catalog.busy_ms"] = (per_op(self_ms(cat)), "ms/op")
    m["catalog.call_p50_ms"] = (p50(dur_ms(cat)), "ms")
    m["client.register_views_ms"] = (p50(dur_ms(of("client", "register_views"))), "ms")
    writes = of("io", "write")
    m["io.write_ms"] = (p50(dur_ms(writes)), "ms")
    m["io.write_calls"] = (len(writes), "count")
    m["io.read_plan_ms"] = (p50(dur_ms(of("io", "read"))), "ms")

    probes = res.get("trace_probes", [])
    for b in gen.LH_BACKENDS:
        m[f"tables.snapshot_ms.{b}"] = (p50([p["snapshot_ms"] for p in probes if p["backend"] == b]), "ms")
    replays, sprobes = res.get("log_replays", 0), res.get("snapshot_probes", 0)
    m["tables.log_replays"] = (replays, "count")
    m["tables.snapshot_probes"] = (sprobes, "count")
    m["tables.snapshot_hit_ratio"] = (1.0 - replays / sprobes if sprobes else 0.0, "ratio")
    for kind in ("append", "replace_where"):
        m[f"tables.{kind}_ms"] = (p50(dur_ms(of("io", "write", kind=kind))), "ms")
    m["tables.merge_ms"] = (p50(dur_ms(of("tables", "merge"))), "ms")
    m["tables.delete_ms"] = (p50(dur_ms(of("tables", "delete"))), "ms")
    m["tables.changes_ms"] = (p50(dur_ms(of("tables", "changes"))), "ms")
    pruning = [p["pruning"] for p in probes if p.get("pruning")]
    scanned, live = sum(p[0] for p in pruning), sum(p[1] for p in pruning)
    m["tables.files_scanned_frac"] = (scanned / live if live else 0.0, "ratio")
    m["tables.live_files"] = (res.get("live_files", 0), "count")
    m["tables.log_files"] = (log_files(os.path.join(work, "tables")), "count")
    written = res.get("table_bytes_written", 0)
    ub = user_bytes_written(workload, res, truth)
    m["tables.bytes_written_per_user_byte"] = (written / ub if ub else 0.0, "ratio")
    m["tables.bytes_per_live_byte"] = (
        M.bytes_per_live_byte(res["table_bytes"], res["compact_bytes"])
        if res.get("compact_bytes") else 0.0, "ratio")
    reads, ws = read_write(workload, res)
    m["op.read_tail_ms"] = (M.tail_value(reads) or 0.0, "ms")
    m["op.write_p50_ms"] = (M.median(ws) or 0.0, "ms")
    m["op.write_tail_ms"] = (M.tail_value(ws) or 0.0, "ms")
    m["jvm.peak_rss_mb"] = (res["peak_rss_mb"], "MB")

    plans = of("sql", "plan")
    m["sql.plan_ms"] = (p50(dur_ms(plans)), "ms")
    m["sql.plan_share"] = (self_ms(plans) / (wall_s * 1e3) if wall_s else 0.0, "ratio")
    m["sql.exec_ms"] = (p50(dur_ms(of("sql", "exec"))), "ms")
    meta = [o for o in res.get("ops", []) if o["timed"] and o["kind"] == "meta_agg" and "error" not in o]
    m["sql.metadata_served_frac"] = (
        sum(1 for o in meta if not o["result"]["scanned"]) / len(meta) if meta else 0.0, "ratio")

    for q in HEADLINE:
        m[f"queries.{q}_s"] = (p50(dur_ms(of("queries", q))) / 1e3, "s")

    eng = res.get("engine_timed", {})
    cores = res.get("cores", os.cpu_count())
    busy_s = eng.get("task_busy_ms", 0) / 1e3
    jobs_timed = eng.get("jobs", 0)
    m["spark.jobs"] = (jobs_timed, "count")
    m["spark.jobs_per_op"] = (per_op(jobs_timed), "count")
    m["spark.tasks"] = (eng.get("tasks", 0), "count")
    m["spark.task_busy_s"] = (busy_s, "s")
    m["spark.core_idle_frac"] = (1.0 - busy_s / (wall_s * cores) if wall_s else 0.0, "ratio")
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "output_bytes",
              "spill_bytes"):
        m[f"spark.{k}"] = (eng.get(k, 0), "bytes")
    m["spark.gc_s"] = (eng.get("gc_ms", 0) / 1e3, "s")
    ms0, ms1 = res["timed_start_ms"], res["timed_end_ms"]
    timed_jobs = [j for j in jobs if ms0 <= j["start_ms"] <= ms1]
    attributed = sum(1 for j in timed_jobs if j["group"].startswith("span-"))
    m["spark.jobs_attributed_frac"] = (attributed / len(timed_jobs) if timed_jobs else 0.0, "ratio")

    m["trace.spans"] = (len(spans), "count")
    m["trace.recorder_frac"] = (res.get("recorder_ms", 0.0) / 1e3 / wall_s if wall_s else 0.0, "ratio")
    return m


def log_files(root):
    """Log files under the table roots (all three log formats)."""
    return sum(1 for d, _, files in os.walk(root)
               if os.path.basename(d) in ("_graft_log", "_delta_log", "metadata")
               for f in files if not f.endswith(".crc"))


def user_bytes_written(workload, res, truth):
    if workload != "lakehouse_txn":
        return 0
    ops = truth["ops"]
    return sum(M.user_bytes(ops[o["i"]].get("rows", [])) for o in res["ops"]
               if o["timed"] and o["kind"] not in gen.LH_READS)

