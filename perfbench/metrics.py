"""The benchmark's arithmetic: percentiles, span self time, failure share,
and the metrics derived from one run's raw result file."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs, pct=99.0, beyond=10):
    """The `pct` percentile (nearest rank) if at least `beyond` samples lie
    above it; otherwise the highest percentile that has `beyond` samples
    above it. Returns (value, percentile); (nan, 0) with too few samples."""
    n = len(xs)
    if n <= beyond:
        return float("nan"), 0.0
    s = sorted(xs)
    rank = min(math.ceil(pct / 100.0 * n), n - beyond)  # 1-based
    return s[rank - 1], 100.0 * rank / n


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of (start, end) intervals."""
    total, reach = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= reach:
            continue
        total += e - max(s, reach)
        reach = e
    return total


def self_times(spans):
    """{span id: its duration minus the part its child spans cover}."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["start_ns"], sp["end_ns"]))
    return {sp["id"]: sp["end_ns"] - sp["start_ns"]
            - covered(kids.get(sp["id"], []), sp["start_ns"], sp["end_ns"])
            for sp in spans}


def with_jobs(spans, jobs, anchor):
    """Spans plus one child span per Spark job, placed under the innermost
    span of the operation that launched it (jobs carry epoch-ms times;
    `anchor` is an (epoch ms, monotonic ns) pair read at one instant)."""
    ms0, ns0 = anchor
    out = list(spans)
    next_id = max((s["id"] for s in spans), default=0) + 1
    for j in jobs:
        if j["op"] is None:
            continue
        start = (j["start_ms"] - ms0) * 1_000_000 + ns0
        end = (j["end_ms"] - ms0) * 1_000_000 + ns0
        holders = [s for s in spans if s["op"].split("#")[0] == j["op"]
                   and s["start_ns"] <= start <= s["end_ns"]]
        if holders:
            parent = min(holders, key=lambda s: s["end_ns"] - s["start_ns"])
            out.append({"id": next_id, "parent": parent["id"], "name": "job",
                        "op": parent["op"], "start_ns": start, "end_ns": end})
            next_id += 1
    return out


def paired_self_us(spans, outer, inner):
    """Median over requests of the `outer` span's duration minus its
    request's `inner` spans (matched by id), in microseconds. A lookup's
    cost depends on its key, so a difference of medians taken over all
    requests would mostly measure that spread."""
    took = {}
    for sp in spans:
        if sp["name"] in inner:
            took[sp["op"]] = took.get(sp["op"], 0) + sp["end_ns"] - sp["start_ns"]
    return median([(sp["end_ns"] - sp["start_ns"] - took[sp["op"]]) / 1e3
                   for sp in spans if sp["name"] == outer and sp["op"] in took])


def failed_frac(failed, attempted):
    return failed / attempted if attempted else 1.0


def unit_wall(w):
    """Wall time of one unit of work: with named operations, the sum of each
    operation's median time (one slow execution moves it less than it moves
    a pass); otherwise the median unit."""
    if not w["op_names"]:
        return median(w["units_s"])
    by_op = {}
    for name, ms in zip(w["op_names"], w["lat_ms"]):
        by_op.setdefault(name, []).append(ms)
    return sum(median(v) for v in by_op.values()) / 1e3


def p50_ms(w):
    """Median latency of one request: with named operations, a request is
    a pass over all of them (one training set); otherwise one operation."""
    return median(w["units_s"]) * 1e3 if w["op_names"] else median(w["lat_ms"])


def end_to_end(r):
    """The bounded metrics, from the untraced window."""
    t = r["timed"]
    return {
        "setup_s": (r["session_s"] + r["warmup_s"] + median(r["load_s"]), "s"),
        "wall_s": (unit_wall(t), "s"),
        "p50_ms": (p50_ms(t), "ms"),
        "per_s": (t["done"] / t["seconds"], "1/s"),
        "heap_mb": (r["heap_mb"], "MB"),
    }


def per_layer(r):
    """The layer metrics every workload reports, from the traced window:
    Spark execution and Catalyst planning counters per unit of work, and
    the tracing overhead."""
    c, tr = r["counters"], r["traced"]
    units = max(len(tr["units_s"]), 1)
    lo, hi = c["window_ms"]
    wall_s = (hi - lo) / 1e3
    jobs = [(j["start_ms"], j["end_ms"]) for j in c["jobs"]]
    busy_s = c["task_run_ms"] / 1e3
    skews = [max(s["task_ms"]) / statistics.median(s["task_ms"])
             for s in c["stages"] if len(s["task_ms"]) > 1 and statistics.median(s["task_ms"]) > 0]
    plans = c["plans"]
    mb = 1024.0 * 1024.0
    return {
        "trace.overhead_frac": (p50_ms(tr) / p50_ms(r["timed"]) - 1.0, "ratio"),
        "exec.jobs": (len(jobs) / units, "count"),
        "exec.stages": (len(c["stages"]) / units, "count"),
        "exec.tasks": (c["tasks"] / units, "count"),
        "exec.task_busy_s": (busy_s / units, "s"),
        "exec.core_util": (busy_s / (wall_s * r["cores"]), "ratio"),
        "exec.driver_gap_s": ((hi - lo - covered(jobs, lo, hi)) / 1e3 / units, "s"),
        "exec.shuffle_write_mb": (c["shuffle_write_bytes"] / mb / units, "MB"),
        "exec.shuffle_read_mb": (c["shuffle_read_bytes"] / mb / units, "MB"),
        "exec.spill_mb": (c["spill_bytes"] / mb / units, "MB"),
        "exec.skew": (max(skews, default=1.0), "ratio"),
        "exec.gc_s": (c["gc_ms"] / 1e3 / units, "s"),
        "plan.optimization_ms": (sum(p["optimization"] for p in plans) / units, "ms"),
        "plan.planning_ms": (sum(p["planning"] for p in plans) / units, "ms"),
    }


def _span_groups(spans):
    out = {}
    for sp in spans:
        out.setdefault(sp["name"], []).append(sp)
    return out


def detail(r, spans):
    """Workload-specific figures, printed by name beside the bounded ones."""
    w, t, x = r["workload"], r["timed"], r["extra"]
    d = {"failed_frac": (failed_frac(r["failed"], r["attempted"]), "ratio"),
         "setup_s": end_to_end(r)["setup_s"], "heap_mb": (r["heap_mb"], "MB")}
    if w == "offline_features":
        d["wall_s"] = (unit_wall(t), "s")
    elif w == "online_serving":
        p, pct = tail(t["lat_ms"])
        m = x["mixed"]
        mp, mpct = tail(m["lat_ms"])
        d.update({
            "materialize_s": (median(t["units_s"]), "s"),
            "serve_p50_ms": (median(t["lat_ms"]), "ms"),
            "serve_p99_ms": (p, "ms"), "serve_p99_pct": (pct, "%"),
            "serve_req_per_s": (t["done"] / t["seconds"], "req/s"),
            "mixed_p50_ms": (median(m["lat_ms"]), "ms"),
            "mixed_p99_ms": (mp, "ms"), "mixed_p99_pct": (mpct, "%"),
            "mixed_req_per_s": (m["done"] / m["seconds"], "req/s"),
            "upsert_rows_per_s": (m["streamed_rows"] / m["stream_seconds"], "rows/s"),
            "batch_p50_ms": (median(m["chunk_ms"]), "ms"),
        })
    if spans is None:
        return d
    g = _span_groups(spans)
    us = lambda sps: [(s["end_ns"] - s["start_ns"]) / 1e3 for s in sps]
    if w == "offline_features":
        # driver time: inside the library calls with no Spark job running
        self_t = self_times(with_jobs(spans, r["counters"]["jobs"], r["clock_anchor"]))
        passes = max(len(r["traced"]["units_s"]), 1)
        build = g.get("engine.build", [])
        calls = build + g.get("exec.run", [])
        d["engine.build_ms"] = (sum(us(build)) / 1e3 / passes, "ms")
        d["engine.driver_ms"] = (sum(self_t[s["id"]] for s in calls) / 1e6 / passes, "ms")
        by_query = {}
        for s in g.get("query", []):
            by_query.setdefault(s["op"].split("#")[0], []).append(s)
        for q, sps in sorted(by_query.items()):
            if x["kinds"][q] == "graph_loop":
                d[f"ops.{q}.wall_s"] = (median(us(sps)) / 1e6, "s")
                jobs = sum(1 for j in r["counters"]["jobs"] if j["op"] == q)
                d[f"ops.{q}.jobs"] = (jobs / len(sps), "count")
                driver = [sum(self_t[c["id"]] for c in calls if c["op"] == s["op"]) for s in sps]
                d[f"ops.{q}.driver_s"] = (median(driver) / 1e9, "s")
        for kind in ("pit_join", "over_window", "sliding"):
            qs = [q for q, k in x["kinds"].items() if k == kind]
            tot = sum(sum(us(by_query.get(q, []))) for q in qs) / 1e6
            d[f"engine.{kind}_s"] = (tot / passes, "s")
    elif w == "online_serving":
        get = us(g.get("store.get", []))
        gp, gpct = tail(get)
        evals = us(g.get("expr.eval", []))
        prog = [p for p in r["counters"]["progress"] if p["rows"] > 0]
        dur = lambda k: median([p["duration_ms"].get(k, 0) for p in prog])
        chunks = max(len(x["traced_mixed"]["chunk_ms"]), 1)
        d.update({
            "store.get_us": (median(get), "us"),
            "store.get_p99_us": (gp, "us"), "store.get_p99_pct": (gpct, "%"),
            # the streaming sink upserts each micro-batch inside addBatch
            "store.put_ms": (dur("addBatch"), "ms"),
            "store.hit_frac": (x["probe"]["found"] / max(x["probe"]["lookups"], 1), "ratio"),
            # the probe times each of its requests, and the lookup and
            # expression evaluations it makes, under one id
            "client.self_us": (paired_self_us(spans, "client.request", ("store.get", "expr.eval")), "us"),
            "expr.parse_us": (median(us(g.get("expr.parse", []))), "us"),
            "expr.eval_us": (median(evals), "us"),
            "expr.eval_node_us": (median(us(g.get("expr.eval_node", []))), "us"),
            "stream.batches": (len(r["counters"]["progress"]) / chunks, "count"),
            "stream.rows_per_batch": (median([p["rows"] for p in prog]), "rows"),
            "stream.trigger_ms": (dur("triggerExecution"), "ms"),
            "stream.add_batch_ms": (dur("addBatch"), "ms"),
            "stream.planning_ms": (dur("queryPlanning"), "ms"),
            "stream.wal_ms": (dur("walCommit"), "ms"),
            "stream.state_rows": (max([p["state_rows"] for p in prog], default=0), "rows"),
            "stream.state_mb": (max([p["state_bytes"] for p in prog], default=0) / 1048576.0, "MB"),
            "stream.state_commit_ms": (median([p["state_commit_ms"] for p in prog]), "ms"),
        })
    return d
