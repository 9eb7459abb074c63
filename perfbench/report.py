"""Turns one run's raw JVM record into its result: correctness checks,
the end-to-end metrics, and (for a traced run) spans and per-layer
metrics. Every request, check and watch batch is kept in the result
file, so nothing measured is dropped from the record."""
import json
import statistics
from collections import defaultdict

import stats
import workloads

MIB = float(1 << 20)

END_TO_END_UNITS = {
    "setup_s": "s", "cold_sweep_s": "s", "warm_sweep_s": "s",
    "search_p50_ms": "ms", "search_qps": "1/s",
    "cache_mb": "MiB", "stored_bytes_ratio": "ratio",
}

# Per-request means over the steady (warm) requests; the `cold_` ones are
# means over the cold pass, whose sum is cold_sweep_s.
PER_LAYER_UNITS = {
    "operators.construct_ms": "ms", "operators.self_ms": "ms",
    "operators.cold_construct_ms": "ms",
    "catalyst.plan_ms": "ms", "catalyst.self_ms": "ms",
    "catalyst.cold_plan_ms": "ms",
    "catalyst.codegen_compiles": "count", "catalyst.codegen_ms": "ms",
    "catalyst.cold_codegen_compiles": "count", "catalyst.cold_codegen_ms": "ms",
    "exec.wall_ms": "ms", "exec.cold_wall_ms": "ms", "exec.driver_self_ms": "ms",
    "exec.job_self_ms": "ms", "exec.stage_ms": "ms",
    "exec.task_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.task_wait_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.scan_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "plancache.builds": "count", "plancache.hit_ratio": "ratio",
    "plancache.build_ms": "ms", "plancache.cold_builds": "count",
    "plancache.cold_build_ms": "ms",
    "indexstore.build_s": "s", "indexstore.tables_built": "count",
    "watchloop.reload_ms": "ms", "watchloop.new_edges": "count",
    "watchloop.noop_reloads": "count", "watchloop.failed_reloads": "count",
    "watchloop.backlog_max": "count", "watchloop.lag_p50_ms": "ms",
    "watchloop.lag_p90_ms": "ms", "watchloop.generator_late_ms": "ms",
    "bench.request_self_ms": "ms", "bench.trace_hook_ms": "ms",
}

STAGE_SUMS = ("task_ms", "cpu_ms", "gc_ms", "scan_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _metric(units, name, value):
    if not (stats.valid_name(name) and stats.valid_unit(units[name])):
        raise ValueError(f"invalid metric name or unit: {name!r}")
    return {"value": value, "unit": units[name]}


# ---------------------------------------------------------------- checks

def record_expected(raw, path):
    """Write expected.json from a full sweep's cold requests."""
    out = {}
    for r in raw["requests"]:
        if r["phase"] != "cold":
            continue
        q = r["query"]
        if r["error"] is not None:
            raise SystemExit(f"record: {q} failed: {r['error']}")
        e = {"rows": r["rows"], "schema": r["schema"]}
        if q in workloads.APPROXIMATE:
            e["approximate"] = True
        else:
            e["hash"] = r["hash"]
        out[q] = e
    with open(path, "w") as fh:
        json.dump(dict(sorted(out.items())), fh, indent=1, sort_keys=True)
        fh.write("\n")


def check_request(r, expected, workload):
    """Compare one request's rows, schema and content hash with the
    recorded values; approximate queries are held to rows and schema.
    watch-churn's steady graph reads answer over edges the writer keeps
    adding, so they have no recorded value (the round views in
    `watch_summary` check the edges they read)."""
    exp = expected.get(r["query"])
    if r["error"] is not None:
        return "error"
    if workload == "watch-churn" and r["phase"] == "warm" \
            and r["query"] in workloads.CHURN_GRAPH_READS:
        return "edges-changed"
    if exp is None:
        return "no-expected-value"
    if r["rows"] != exp["rows"] or r["schema"] != exp["schema"]:
        return "mismatch"
    if "hash" in exp and r["hash"] != exp["hash"]:
        return "mismatch"
    return "ok"


# ----------------------------------------------------------- watch loop

def watch_summary(w, churn_in):
    """Reload lag per generator batch (from when it was due to when the
    ledger row that applied it appeared), backlog, and the exactness
    check on the edge table and ledger."""
    batches = churn_in["batches"]
    sent = sorted(w["sent"], key=lambda s: s["batch"])
    appeared = {a["index"]: a["at"] for a in w["appeared"]}
    end_off = {p["batch_id"]: p["end_offset"] for p in w["progress"]}
    rows = []
    for j, led in enumerate(w["ledger"]):
        rows.append(dict(led, at=appeared.get(j),
                         end_offset=end_off.get(led["batch_id"])))
    lags, late, applied_at = [], [], []
    for s in sent:
        hit = next((r for r in rows if r["end_offset"] is not None
                    and r["end_offset"] >= s["offset"]), None)
        s["applied"] = hit is not None
        s["applied_at"] = hit["at"] if hit else None
        s["lag_ms"] = hit["at"] - s["due"] if hit and hit["at"] is not None else None
        if s["lag_ms"] is not None:
            lags.append(s["lag_ms"])
            applied_at.append(hit["at"])
        late.append(s["sent"] - s["due"])
    events = [(s["sent"], 1) for s in sent] + [(t, -1) for t in applied_at]
    backlog = backlog_max = 0
    for _, d in sorted(events, key=lambda e: (e[0], -e[1])):
        backlog += d
        backlog_max = max(backlog_max, backlog)
    new_sent = {tuple(e) for s in sent for e in batches[s["batch"]]["new"]}
    expected_edges = w["base_edges"] + len(new_sent)
    ledger_new = sum(r["n_new_edges"] for r in rows)
    # a micro-batch that covered only re-notification batches must add 0
    prev_end, noop_violations = -1, 0
    by_offset = {s["offset"]: s["batch"] for s in sent}
    for r in rows:
        if r["end_offset"] is None:
            continue
        covered = [by_offset[o] for o in range(prev_end + 1, r["end_offset"] + 1)
                   if o in by_offset]
        if covered and all(not batches[b]["new"] for b in covered) \
                and r["n_new_edges"] != 0:
            noop_violations += 1
        prev_end = r["end_offset"]
    # each round's reads must see every edge the ledger had applied when
    # the round started
    stale_rounds = [v for v in w["round_views"]
                    if v["reader_view"] is None
                    or v["reader_view"] < v["ledger_before"]]
    exact = {
        "base_edges": w["base_edges"],
        "base_edges_generator": churn_in["base_edges"],
        "distinct_new_sent": len(new_sent),
        "edge_distinct": w["edge_distinct"],
        "edge_distinct_reader_view": w["edge_distinct_reader_view"],
        "expected_edges": expected_edges,
        "ledger_new_edges": ledger_new,
        "failed_reloads": w["failed_reloads"],
        "noop_violations": noop_violations,
        "stale_rounds": len(stale_rounds),
    }
    exact["ok"] = (w["base_edges"] == churn_in["base_edges"]
                   and w["edge_distinct"] == expected_edges
                   and w["edge_distinct_reader_view"] == expected_edges
                   and ledger_new == len(new_sent)
                   and w["failed_reloads"] == 0 and noop_violations == 0
                   and w.get("writer_error") is None)
    return {
        "batches": sent, "ledger": rows, "exact": exact,
        "round_views": w["round_views"], "stale_rounds": len(stale_rounds),
        "lag_ms": stats.summarize(lags) if lags else {"n": 0},
        "unapplied": sum(1 for s in sent if not s["applied"]),
        "generator_late_ms": {"max": max(late) if late else 0.0,
                              "p50": _median(late)},
        "backlog_max": backlog_max,
        "reload_ms": _median([r["duration_ms"] for r in rows]),
        "noop_reloads": sum(1 for r in rows
                            if r["n_new_edges"] == 0 and r["error"] is None),
        "new_edges": ledger_new,
        "failed_reloads": w["failed_reloads"],
        "writer_error": w.get("writer_error"),
        "metrics_read_retries": w.get("metrics_read_retries"),
    }


# ---------------------------------------------------------------- spans

def spans(raw):
    """request -> construct/plan/execute -> job -> stage spans, each with
    name, start, end, parent and the request id they share."""
    out = []
    reqs = {str(r["id"]): r for r in raw["requests"]}
    for r in raw["requests"]:
        rid = str(r["id"])
        out.append({"id": f"r{rid}", "name": "request", "req": rid,
                    "parent": None, "start": r["start"], "end": r["end"],
                    "query": r["query"]})
        cend = r["construct_end"] if r["construct_end"] is not None else r["end"]
        out.append({"id": f"c{rid}", "name": "construct", "req": rid,
                    "parent": f"r{rid}", "start": r["start"], "end": cend})
        exec_start = cend
        if r["plan_start"] is not None and r["plan_end"] is not None:
            ps = min(max(r["plan_start"], cend), r["end"])
            pe = min(max(r["plan_end"], ps), r["end"])
            out.append({"id": f"p{rid}", "name": "plan", "req": rid,
                        "parent": f"r{rid}", "start": ps, "end": pe})
            exec_start = pe
        out.append({"id": f"e{rid}", "name": "execute", "req": rid,
                    "parent": f"r{rid}", "start": exec_start, "end": r["end"]})
    phase_of = {}
    for s in out:
        if s["name"] in ("construct", "plan", "execute"):
            phase_of.setdefault(s["req"], []).append(s)
    stage_job = {}
    for j in raw.get("jobs", []):
        if j["req"] not in reqs:
            continue
        phases = phase_of[j["req"]]
        parent = next((ph["id"] for ph in phases
                       if ph["start"] <= j["start"] <= ph["end"]), phases[-1]["id"])
        out.append({"id": f"j{j['id']}", "name": "job", "req": j["req"],
                    "parent": parent, "start": j["start"],
                    "end": max(j["end"], j["start"])})
        for sid in j["stages"]:
            stage_job.setdefault(sid, f"j{j['id']}")
    for st in raw.get("stages", []):
        if st["req"] not in reqs:
            continue
        out.append({"id": f"s{st['id']}.{st['attempt']}", "name": "stage",
                    "req": st["req"], "parent": stage_job.get(st["id"]),
                    "start": st["submit"],
                    "end": max(st["complete"], st["submit"])})
    return out


def self_times(span_list):
    """Self time of every span: its duration minus the union of its
    children's intervals."""
    kids = defaultdict(list)
    for s in span_list:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: stats.self_time((s["start"], s["end"]), kids[s["id"]])
            for s in span_list}


def per_layer(raw, sp, requests, watch, setups):
    """Per-request means of each layer's counters and self times over the
    spans `sp`, plus per-query and per-request breakdowns."""
    selfs = self_times(sp)
    by_req = defaultdict(lambda: defaultdict(float))
    for s in sp:
        d = s["end"] - s["start"]
        b = by_req[s["req"]]
        b[s["name"] + "_self"] += selfs[s["id"]]
        b[s["name"] + "_dur"] += d
        if s["name"] == "job":
            b["jobs"] += 1
    seen_persisted = set()
    memo_queries = set()
    req_query = {str(r["id"]): r["query"] for r in requests}
    for st in raw.get("stages", []):
        b = by_req[st["req"]] if st["req"] in req_query else None
        new = [p for p in st["persisted"] if p not in seen_persisted]
        seen_persisted.update(st["persisted"])
        if b is None:
            continue
        b["stages"] += 1
        b["tasks"] += st["tasks"]
        b["task_wait_ms"] += st["wait_ms"]
        for k in STAGE_SUMS:
            b[k] += st[k]
        if st["persisted"]:
            memo_queries.add(req_query[st["req"]])
        if new:
            b["builds"] += len(new)
            b["build_ms"] += st["complete"] - st["submit"]
    for r in requests:
        b = by_req[str(r["id"])]
        b["codegen_compiles"] = r["codegen_compiles"]
        b["codegen_ms"] = r["codegen_ms"]
        b["tables_built"] = r["tables_built"]
        b["hook_ms"] = r["hook_ms"]
    warm = [r for r in requests if r["phase"] == "warm"]
    cold = [r for r in requests if r["phase"] == "cold"]
    memo_reqs = [r for r in warm if r["query"] in memo_queries]
    hits = [r for r in memo_reqs if by_req[str(r["id"])]["builds"] == 0]

    def mean(key, reqs=warm):
        return sum(by_req[str(r["id"])][key] for r in reqs) / len(reqs) if reqs else 0.0

    m = {
        "operators.construct_ms": mean("construct_dur"),
        "operators.self_ms": mean("construct_self"),
        "operators.cold_construct_ms": mean("construct_dur", cold),
        "catalyst.plan_ms": mean("plan_dur"),
        "catalyst.self_ms": mean("plan_self"),
        "catalyst.cold_plan_ms": mean("plan_dur", cold),
        "catalyst.codegen_compiles": mean("codegen_compiles"),
        "catalyst.codegen_ms": mean("codegen_ms"),
        "catalyst.cold_codegen_compiles": mean("codegen_compiles", cold),
        "catalyst.cold_codegen_ms": mean("codegen_ms", cold),
        "exec.wall_ms": mean("execute_dur"),
        "exec.cold_wall_ms": mean("execute_dur", cold),
        "exec.driver_self_ms": mean("execute_self"),
        "exec.job_self_ms": mean("job_self"),
        "exec.stage_ms": mean("stage_dur"),
        "exec.task_ms": mean("task_ms"), "exec.cpu_ms": mean("cpu_ms"),
        "exec.gc_ms": mean("gc_ms"), "exec.task_wait_ms": mean("task_wait_ms"),
        "exec.jobs": mean("jobs"), "exec.stages": mean("stages"),
        "exec.tasks": mean("tasks"), "exec.scan_bytes": mean("scan_bytes"),
        "exec.shuffle_read_bytes": mean("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "exec.spill_bytes": mean("spill_bytes"),
        "plancache.builds": mean("builds"),
        "plancache.hit_ratio": len(hits) / len(memo_reqs) if memo_reqs else 0.0,
        "plancache.build_ms": mean("build_ms"),
        "plancache.cold_builds": mean("builds", cold),
        "plancache.cold_build_ms": mean("build_ms", cold),
        "indexstore.build_s": _median([s["index_s"] for s in setups[1:]]),
        "indexstore.tables_built": sum(r["tables_built"] for r in requests),
        "watchloop.reload_ms": watch["reload_ms"] if watch else 0.0,
        "watchloop.new_edges": watch["new_edges"] if watch else 0,
        "watchloop.noop_reloads": watch["noop_reloads"] if watch else 0,
        "watchloop.failed_reloads": watch["failed_reloads"] if watch else 0,
        "watchloop.backlog_max": watch["backlog_max"] if watch else 0,
        "watchloop.lag_p50_ms": (watch["lag_ms"].get("p50") or 0.0) if watch else 0.0,
        "watchloop.lag_p90_ms": (watch["lag_ms"].get("p90") or 0.0) if watch else 0.0,
        "watchloop.generator_late_ms":
            watch["generator_late_ms"]["max"] if watch else 0.0,
        "bench.request_self_ms": mean("request_self"),
        "bench.trace_hook_ms": mean("hook_ms"),
    }
    per_query = defaultdict(lambda: defaultdict(list))
    for r in requests:
        b = by_req[str(r["id"])]
        pq = per_query[r["query"]]
        for k in ("construct_dur", "plan_dur", "execute_dur", "construct_self",
                  "plan_self", "execute_self", "job_self", "stage_dur",
                  "task_ms", "builds", "build_ms", "codegen_compiles",
                  "codegen_ms", "tables_built", "stages", "tasks"):
            pq[r["phase"] + "." + k].append(b[k])
    breakdown = {q: {k: _mean(v) for k, v in sorted(d.items())}
                 for q, d in sorted(per_query.items())}
    per_request = {str(r["id"]): dict(by_req[str(r["id"])], query=r["query"],
                                      phase=r["phase"]) for r in requests}
    return m, breakdown, per_request


# ---------------------------------------------------------------- build

def _ms(a, b):
    return None if a is None or b is None else b - a


def build(workload, inp, raw, expected, stamp):
    reqs = raw["requests"]
    for r in reqs:
        r["total_ms"] = r["end"] - r["start"]
        r["construct_ms"] = _ms(r["start"], r["construct_end"])
        r["plan_ms"] = _ms(r["plan_start"], r["plan_end"])
        exec_from = r["plan_end"] if r["plan_end"] is not None else r["construct_end"]
        r["execute_ms"] = _ms(exec_from, r["end"])
    for r in reqs:
        r["check"] = check_request(r, expected, workload)
        r["expected"] = expected.get(r["query"])
    watch = watch_summary(raw["watch"], inp["churn"]) if "watch" in raw else None
    warm = [r for r in reqs if r["phase"] == "warm" and r["error"] is None]
    lat = [r["total_ms"] for r in warm]
    rounds = len(warm) / len({r["query"] for r in warm}) if warm else 1
    cw, sw = raw["cold_window"], raw["steady_window"]
    setups = raw["setups"]
    end = raw["end_state"]
    e2e = {
        # the first set-up also pays the fresh JVM's class loading and JIT
        "setup_s": _median([s["total_s"] for s in setups[1:]]),
        "cold_sweep_s": (cw[1] - cw[0]) / 1e3,
        "warm_sweep_s": sum(lat) / 1e3 / rounds,
        "search_p50_ms": stats.percentile(lat, 50) if lat else 0.0,
        # per second the client had a request outstanding: watch-churn's
        # reader idles between rounds until the next reload lands
        "search_qps": len(warm) / (sum(lat) / 1e3) if lat else 0.0,
        # after every query of the workload has run once; at the end,
        # watch-churn holds whichever memos the last reload left standing
        "cache_mb": end["cache_bytes_after_cold"] / MIB,
        "stored_bytes_ratio": end["stored_bytes_after_cold"] / end["corpus_bytes"]
        if end["corpus_bytes"] else 0.0,
    }
    attempted = len(reqs)
    failed = sum(1 for r in reqs if r["check"] not in ("ok", "edges-changed"))
    if watch:
        attempted += len(watch["batches"]) + len(watch["round_views"]) + 1
        failed += watch["unapplied"] + watch["stale_rounds"]
        failed += 0 if watch["exact"]["ok"] else 1
        failed += sum(1 for r in watch["ledger"] if r["error"] is not None)
    result = {
        "stamp": stamp,
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "fail_ratio": failed / attempted,
        "end_to_end": {k: _metric(END_TO_END_UNITS, k, v) for k, v in e2e.items()},
        "latency_samples": {"search_ms": stats.summarize(lat) if lat else {"n": 0}},
        "setups": setups,
        "listener_bus_drained": raw["drained"],
        "end_state": end,
        "windows": {"cold": cw, "steady": sw},
        "requests": reqs,
        "per_layer": {},
    }
    if watch:
        result["watch"] = watch
    if stamp["trace"]:
        sp = spans(raw)
        m, breakdown, per_request = per_layer(raw, sp, reqs, watch, setups)
        result["per_layer"] = {k: _metric(PER_LAYER_UNITS, k, v) for k, v in m.items()}
        result["per_query_layers"] = breakdown
        result["per_request_layers"] = per_request
        result["spans"] = sp

    return result
