"""Metrics and output checks from one harness run's raw records."""
from collections import Counter, defaultdict

import gen
import stats

END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("op_p90_ms", "ms"),
              ("ops_per_s", "1/s"), ("heap_live_mb", "MB")]

KERNELS = ["graft_text_search", "graft_token_prefix", "graft_vec_dot", "graft_qsqdist",
           "graft_simhash64", "graft_minhash16", "graft_tokenhash64", "graft_shingle3",
           "graft_simhash_sig", "graft_zorder2", "graft_cdc_cuts", "graft_bbit_minhash16"]
STORE_CALLS = ["append", "upsert", "delete", "compact", "expire"]

PER_LAYER = (
    [("functions.dsl_parse_us", "us"), ("functions.dsl_compile_us", "us"),
     ("plans.globalrank_build_ms", "ms"), ("plans.globalrank_jobs", "count"),
     ("queries.build_ms", "ms"), ("queries.build_jobs", "count"),
     ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
     ("catalyst.planning_ms", "ms"),
     ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
     ("exec.driver_gap_ms", "ms"), ("exec.task_run_ms", "ms"), ("exec.task_cpu_ms", "ms"),
     ("exec.gc_ms", "ms"), ("exec.shuffle_write_bytes", "bytes"),
     ("exec.shuffle_read_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
     ("exec.peak_exec_mem_bytes", "bytes"), ("exec.input_records_per_result_row", "ratio"),
     ("plan.exchanges", "count"), ("plan.hash_aggregates", "count"), ("plan.bnlj", "count"),
     ("plan.graft_kernels", "count")] +
    [(f"functions.kernel.{k}.rows_per_s{s}", "1/s") for k in KERNELS for s in ("", "_interp")] +
    [("stream.add_batch_ms", "ms"), ("stream.wal_commit_ms", "ms"),
     ("stream.query_planning_ms", "ms"), ("stream.state_commit_ms", "ms"),
     ("stream.batches", "count"),
     ("sources.sb_read_ms", "ms"), ("sources.sb_records_per_s", "1/s"),
     ("functions.validate_ms", "ms")] +
    [(f"sources.store.{c}_ms", "ms") for c in STORE_CALLS + ["read", "read_at"]] +
    [("sources.store.segments_per_read", "count"),
     ("sources.store.bytes_written_per_user_byte", "ratio"),
     ("storage.cached_mb", "MB"),
     ("layers.construction_ms", "ms"), ("layers.plan_ms", "ms"), ("layers.action_ms", "ms"),
     ("layers.jobs_ms", "ms"), ("layers.residual_ms", "ms"),
     ("steady.first_to_last_run", "ratio"), ("trace.op_p50_ms", "ms"),
     ("read_p50_ms", "ms"), ("read_p90_ms", "ms"), ("write_p50_ms", "ms"), ("write_p90_ms", "ms"),
     ("store_bytes_per_live_byte", "ratio")])


def latency(o):
    return o["t1_ms"] - o["t0_ms"]


def first_to_last_run(ops):
    """Batch: the summed latency of each operator's first timed run over
    that of its last (a pass runs every operator several times).  Ingest ops
    repeat no work, so the ratio reads 0 there."""
    first, last = {}, {}
    for o in ops:
        if o["kind"].startswith("batch."):
            first.setdefault(o["kind"], latency(o))
            last[o["kind"]] = latency(o)
    return sum(first.values()) / sum(last.values()) if last else 0.0


# ------------------------------------------------------------ ingest check

def _search_matches(dsl_parts, rec, dataset):
    """The store search predicate under SQL's three-valued logic."""
    (f1, a, b), (f2, c, e), prefix = dsl_parts

    def rng(v, lo, hi):
        return None if v is None else lo <= v <= hi
    x, y = rng(rec[f1], a, b), rng(rec[f2], c, e)
    either = True if (x or y) else (None if x is None or y is None else False)
    return either is True and not dataset.startswith(prefix)


def _parse_store_dsl(dsl):
    """Inverse of gen's store search text: ((f1, a, b), (f2, c, e), prefix)."""
    left, right = dsl.split(" AND -dataset:")
    terms = left.strip("()").split(" OR ")
    out = []
    for t in terms:
        f, rest = t.split(":[")
        lo, hi = rest.rstrip("]").split(" TO ")
        out.append((f, float(lo), float(hi)))
    return out[0], out[1], right.rstrip("*")


def check_ingest(seed, raw):
    """Replay the executed ops on a model of the store and mark every op
    whose result differs.  Returns (errors, model)."""
    script, files = gen.ingest_script(seed)
    script = [row for row in script if row[0] >= 0]  # the warm-up round has its own store
    ops = raw["ops"]
    store, versions, retained = {}, {}, []
    errors = []
    submitted_bytes = {}

    def commit():
        v = len(versions) + 1
        versions[v] = len(store)
        retained.append(v)

    for o, row in zip(ops, script):
        _, kind, a2, a3, a4 = row
        res = o["result"]
        bad = None
        if o["kind"] != f"ingest.{kind}":
            bad = f"op {o['kind']} where the script has {kind}"
        elif kind in ("submit", "resubmit"):
            ds, _, _, recs, viol = files[a2]
            want = ";".join(f"{k}={viol[k]}" for k in gen.rule_names())
            if res.get("violations") != want:
                bad = f"violations {res.get('violations')} != {want}"
            for i, (rec, nbytes) in enumerate(recs):
                store[f"{ds}/{i}"] = (ds, rec, nbytes)
            submitted_bytes[o["id"]] = sum(n for _, n in recs)
            commit()
        elif kind == "withdraw":
            for k in [k for k, v in store.items() if v[0] == a3]:
                del store[k]
            commit()
        elif kind == "maintain":
            commit()
            del retained[:-int(a2)]
        elif kind == "read":
            want = f"{len(store)},{len({v[0] for v in store.values()})}"
            if res.get("count") != want:
                bad = f"read {res.get('count')} != {want}"
        elif kind == "read_at":
            v = retained[min(int(float(a2) * len(retained)), len(retained) - 1)]
            if res.get("version") != str(v) or res.get("count") != str(versions[v]):
                bad = f"read_at v{res.get('version')}={res.get('count')} != v{v}={versions[v]}"
        elif kind == "search":
            parts, poly = _parse_store_dsl(a2), gen.parse_polygon(a3)
            keys = sorted(k for k, (ds, rec, _) in store.items()
                          if _search_matches(parts, rec, ds) and rec["lat"] is not None
                          and rec["lon"] is not None and gen.in_polygon(poly, rec["lon"], rec["lat"]))
            off = int(a4) * gen.PAGE_SIZE
            page = keys[off:off + gen.PAGE_SIZE]
            want = (",".join(page), str(len(keys)) if page else "")
            if (res.get("page"), res.get("total")) != want:
                bad = f"search page {res.get('page')}/{res.get('total')} != {want}"
        if bad:
            errors.append(bad)
            if o["ok"]:
                o["ok"], o["error"] = False, bad
    final = raw["checks"]
    want_ds = dict(Counter(v[0] for v in store.values()))
    want_versions = {str(v): versions[v] for v in retained}
    for what, got, want in (("datasets", final["datasets"], want_ds),
                            ("versions", final["versions"], want_versions)):
        if got != want:
            errors.append(f"final {what} differ from the replay")
            if ops and ops[-1]["ok"]:
                ops[-1]["ok"], ops[-1]["error"] = False, f"final {what} differ"
    live_bytes = sum(n for _, _, n in store.values())
    return errors, {"live_bytes": live_bytes, "submitted_bytes": submitted_bytes}


# ------------------------------------------------------------ layer metrics

def layer_metrics(raw, model):
    ops = raw["ops"]
    spans, jobs = defaultdict(list), defaultdict(list)
    for op, sid, parent, name, s, e in raw["spans"]:
        spans[op].append((sid, parent, name, s, e))
    for op, _, s, e in raw["jobs"]:
        jobs[op].append((s, e))
    counters = raw["counters"]
    per_op = []
    named = defaultdict(list)        # span name -> durations
    named_jobs = defaultdict(list)   # span name -> jobs started inside
    for o in ops:
        sp = spans[o["id"]]
        js = jobs[o["id"]]
        root = next((x for x in sp if x[2] == "op"), None)
        if root is None:
            continue
        rid, t0, t1 = root[0], root[3], root[4]
        top = [x for x in sp if x[1] == rid]
        c = counters.get(str(o["id"]), {})
        self_t = stats.self_times([(x[0], x[1], x[3], x[4]) for x in sp])
        for x in sp:
            named[x[2]].append(x[4] - x[3])
            named_jobs[x[2]].append(sum(1 for s, _ in js if x[3] <= s <= x[4]))
        per_op.append({
            "kind": o["kind"], "wall": t1 - t0, "rows": o["rows"],
            "construction": sum(x[4] - x[3] for x in top if x[2] not in ("plan", "action")),
            "plan": sum(x[4] - x[3] for x in top if x[2] == "plan"),
            "action": sum(x[4] - x[3] for x in top if x[2] == "action"),
            "residual": self_t[rid],
            "jobs_ms": stats.union_length(stats.clip(js, t0, t1)),
            "gap": stats.driver_gap(t0, t1, js), "jobs": len(js), "c": c, "layer": o["layer"]})

    def m(key):
        return stats.mean(p[key] for p in per_op)

    def cm(key, scale=1.0):
        return stats.mean(p["c"].get(key, 0) * scale for p in per_op)

    def lm(key, agg=stats.mean):
        return agg(p["layer"][key] for p in per_op if key in p["layer"])

    out = dict.fromkeys(n for n, _ in PER_LAYER)
    out.update({
        "functions.dsl_parse_us": stats.median(named["dsl.parse"]) * 1000,
        "functions.dsl_compile_us": stats.median(named["dsl.compile"]) * 1000,
        "plans.globalrank_build_ms": stats.median(named["construct.globalrank"]),
        "plans.globalrank_jobs": stats.mean(named_jobs["construct.globalrank"]),
        "queries.build_ms": stats.median(named["queries.build"]),
        "queries.build_jobs": stats.mean(named_jobs["queries.build"]),
        "catalyst.analysis_ms": lm("catalyst.analysis_ms"),
        "catalyst.optimization_ms": lm("catalyst.optimization_ms"),
        "catalyst.planning_ms": lm("catalyst.planning_ms"),
        "exec.jobs": m("jobs"), "exec.stages": cm("stages"), "exec.tasks": cm("tasks"),
        "exec.driver_gap_ms": m("gap"), "exec.task_run_ms": cm("task_run_ms"),
        "exec.task_cpu_ms": cm("task_cpu_ns", 1e-6), "exec.gc_ms": cm("gc_ms"),
        "exec.shuffle_write_bytes": cm("shuffle_write"), "exec.shuffle_read_bytes": cm("shuffle_read"),
        "exec.spill_bytes": cm("spill"), "exec.peak_exec_mem_bytes": cm("peak_exec_mem"),
        "exec.input_records_per_result_row":
            sum(p["c"].get("input_records", 0) for p in per_op) /
            max(1, sum(p["rows"] for p in per_op)),
        "plan.exchanges": lm("plan.exchanges"), "plan.hash_aggregates": lm("plan.hash_aggregates"),
        "plan.bnlj": lm("plan.bnlj"), "plan.graft_kernels": lm("plan.graft_kernels"),
        "functions.validate_ms": stats.median(named["functions.validate"]),
        "sources.sb_read_ms": lm("sources.sb_read_ms", stats.median),
        "sources.store.segments_per_read": lm("sources.store.segments"),
        "storage.cached_mb": per_op[-1]["layer"].get("storage.cached_mb", 0.0) if per_op else 0.0,
        "layers.construction_ms": m("construction"), "layers.plan_ms": m("plan"),
        "layers.action_ms": m("action"), "layers.jobs_ms": m("jobs_ms"),
        "layers.residual_ms": m("residual"),
        "trace.op_p50_ms": stats.percentile([latency(o) for o in ops], 50),
    })
    streams = [p for p in per_op if p["kind"].startswith("batch.stream_")]
    for key in ("add_batch_ms", "wal_commit_ms", "query_planning_ms", "state_commit_ms", "batches"):
        out[f"stream.{key}"] = stats.mean(p["c"].get(key, 0) for p in streams)
    sb_ms = sum(p["layer"].get("sources.sb_read_ms", 0) for p in per_op)
    sb_n = sum(p["layer"].get("sources.sb_records", 0) for p in per_op)
    out["sources.sb_records_per_s"] = sb_n / (sb_ms / 1000) if sb_ms else 0.0
    for c in STORE_CALLS:
        out[f"sources.store.{c}_ms"] = stats.median(named[f"sources.store.{c}"])
    for kind in ("read", "read_at"):
        out[f"sources.store.{kind}_ms"] = stats.median(
            p["wall"] for p in per_op if p["kind"] == f"ingest.{kind}")
    if model:
        written = sum(p["c"].get("output_bytes", 0) for o, p in zip(ops, per_op)
                      if o["cls"] == "write")
        user = sum(model["submitted_bytes"].values())
        out["sources.store.bytes_written_per_user_byte"] = written / user if user else 0.0
    for k, v in raw.get("probe", {}).items():
        out[k] = v
    return {k: (0.0 if v is None else v) for k, v in out.items()}


# ------------------------------------------------------------ summary

def summarize(workload, seed, raw, setup_start, traced, expect):
    ops = raw["ops"]
    errors, model = [], None
    if workload == "ingest":
        errors, model = check_ingest(seed, raw)
    lat = [latency(o) for o in ops]
    reads = [latency(o) for o in ops if o["cls"] == "read"]
    writes = [latency(o) for o in ops if o["cls"] == "write"]
    failed = sum(1 for o in ops if not o["ok"])
    tail = stats.tail_percentile(len(lat))
    e2e = {
        "setup_s": raw["first_op_epoch_ms"] / 1000.0 - setup_start,
        "op_p50_ms": stats.percentile(lat, 50),
        "op_p90_ms": stats.percentile(lat, 90),
        "ops_per_s": len(ops) / raw["window_s"],
        "heap_live_mb": raw["heap_live_mb"],
    }
    side = {
        "read_p50_ms": stats.percentile(reads, 50) if reads else 0.0,
        "read_p90_ms": stats.percentile(reads, 90) if reads else 0.0,
        "write_p50_ms": stats.percentile(writes, 50) if writes else 0.0,
        "write_p90_ms": stats.percentile(writes, 90) if writes else 0.0,
        "store_bytes_per_live_byte":
            raw["checks"]["store_bytes"] / model["live_bytes"] if model else 0.0,
        "steady.first_to_last_run": first_to_last_run(ops),
    }
    details = {
        "workload": workload, "seed": seed, "trace": int(traced), "ops": len(ops),
        "passes": len(raw["passes"]), "window_s": raw["window_s"],
        "session_s": raw["session_epoch_ms"] / 1000.0 - setup_start, "warmup_s": raw["warmup_s"],
        "check_s": raw["check_s"], "shutdown_s": raw["shutdown_s"],
        "error_rate": failed / len(ops),
        "tail_percentile": tail,
        "tail_ms": stats.percentile(lat, tail) if tail else None,
        "cached_mb_after_warmup_and_each_pass":
            [round(raw["warmup_cached_mb"], 3)] + [round(p["cached_mb"], 3) for p in raw["passes"]],
        "failures": sorted({o["error"] for o in ops if not o["ok"]})[:5] + errors[:5],
        "checks": {k: v for k, v in raw["checks"].items()
                   if k not in ("fingerprints", "datasets", "versions")},
        "inputs": expect,
    }
    details.update(side)
    if traced:
        values = layer_metrics(raw, model)
        values.update(side)
        metrics = {n: {"value": values[n], "unit": u} for n, u in PER_LAYER}
    else:
        details.update(e2e)
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    line = {"correct": failed == 0 and not errors, "attempted": len(ops),
            "failed": failed, "metrics": metrics}
    return {"details": details, "line": line}
