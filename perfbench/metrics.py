"""Turns one run's raw observations (raw.json) into checked metrics.

Pure functions only, so the rules are unit-tested in tests/test_metrics.py:
percentiles, ingest freshness from cumulative progress rows, span self
time, and the output checks of each workload.
"""
import math
import statistics

INF = float("inf")
ROUTES = ["current", "daily", "monthly", "annual", "topk", "station"]
STREAM_QUERIES = ["raw", "quarantine", "daily", "year"]
MODULES = ["WeatherOps", "RelationalOps", "TpchOps", "TextOps", "DedupOps",
           "SimilarityOps", "IvfAnn", "PqAnn", "IvfPqAnn", "ParsingOps",
           "AnalyticsOps", "PipelineOps", "SubqueryOps", "CurationOps",
           "GraphOps", "TemporalOps", "LayoutOps"]
SETUP_STEPS = ["layout", "rollup_layout", "ivf", "pq", "ivfpq", "lsh", "graph",
               "kcore", "basket", "cooc", "cooc_deg", "dedup", "dup_spans",
               "minhash_sig", "base_mv"]
# a run is invalid when the generator's dispatch lateness exceeds this
LATENESS_P95_BOUND_MS = 50.0
LATENESS_MAX_BOUND_MS = 1000.0
# floats in counter tables are sums of one-decimal values
SUM_TOL = 1e-6

END_TO_END = [
    ("setup_s", "s"), ("query_p50_ms", "ms"), ("query_tail_ms", "ms"),
    ("query_mean_ms", "ms"), ("fresh_p50_ms", "ms"), ("fresh_tail_ms", "ms"),
    ("heap_retained_mb", "MB"),
]


def per_layer_names():
    """Every per-layer metric as (name, unit), in BENCHMARK.json order."""
    out = []
    for r in ROUTES:
        out += [(f"api.{r}.http_p50_ms", "ms"), (f"api.{r}.facade_p50_ms", "ms")]
    out += [("api.coalesce_ratio", "ratio"), ("api.inflight_max", "count"),
            ("api.ingest_get_p50_ms", "ms")]
    out += [("spark.req.jobs", "count"), ("spark.req.stages", "count"),
            ("spark.req.tasks", "count"), ("spark.req.plan_ms", "ms"),
            ("spark.req.exec_ms", "ms"), ("spark.req.task_ms", "ms"),
            ("spark.req.input_bytes", "bytes"), ("spark.req.rows_read_per_row_out", "ratio")]
    out += [("ingest.post_p50_ms", "ms"), ("ingest.post_p95_ms", "ms")]
    for q in STREAM_QUERIES:
        out += [(f"stream.{q}.batch_p50_ms", "ms"), (f"stream.{q}.batch_p95_ms", "ms"),
                (f"stream.{q}.add_batch_p50_ms", "ms"), (f"stream.{q}.planning_p50_ms", "ms"),
                (f"stream.{q}.wal_commit_p50_ms", "ms")]
    out += [("stream.triggers", "count"), ("stream.state_rows", "count"),
            ("stream.state_mb", "MB"), ("stream.backlog_files_max", "count")]
    out += [("sources.parse_lines_per_s", "1/s")]
    for m in MODULES:
        out += [(f"ops.{m}.build_ms", "ms"), (f"ops.{m}.plan_ms", "ms"),
                (f"ops.{m}.exec_ms", "ms")]
    out += [(f"spark.analytics.{k}", u) for k, u in [
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("task_ms", "ms"),
        ("gc_ms", "ms"), ("input_bytes", "bytes"), ("shuffle_bytes", "bytes"),
        ("spill_bytes", "bytes")]]
    out += [("core.graft_rules_ms", "ms"), ("core.graft_rules_effective_ratio", "ratio"),
            ("plans.cap_flushes", "count")]
    out += [(f"setup.{s}_s", "s") for s in SETUP_STEPS]
    out += [("jvm.peak_rss_mb", "MB")]
    return out


# ---- statistics -------------------------------------------------------------

def percentile(values, q):
    """Nearest-rank q-th percentile (0 < q <= 100); +inf entries sort last."""
    xs = sorted(values)
    if not xs:
        return math.nan
    k = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[min(k, len(xs)) - 1]


def supported_tail(n, candidates=(50, 75, 80, 90, 95, 99, 99.9)):
    """The highest candidate percentile that has at least ten samples
    beyond it, or None when even the median lacks them."""
    best = None
    for c in candidates:
        if n * (1.0 - c / 100.0) >= 10.0 - 1e-9:
            best = c
    return best


def tail(values, want=90):
    """(percentile used, value): the highest percentile, up to `want`,
    that has at least ten samples beyond it."""
    c = supported_tail(len(values))
    if c is None:
        return None, math.nan
    c = min(c, want)
    return c, percentile(values, c)


def median(values):
    return statistics.median(values) if values else math.nan


# ---- ingest freshness -------------------------------------------------------

def freshness(created_ms, lines, accepted, progress):
    """Per-POST freshness (ms): from the body's creation stamp until every
    fan-out query's cumulative input rows cover the POST's last line.

    created_ms[k]: creation time of POST k (its scheduled send time).
    lines[k]: lines in POST k; accepted[k]: False if the door refused it.
    progress: {query: [(at_ms, rows), ...]} in delivery order, counting
    from the first line the stream saw (the warm-up lines are removed by
    the caller through `offset`-shifted rows).
    A refused POST, or one never covered, counts as +inf.
    """
    cum = {}
    for q, evs in progress.items():
        acc, pts = 0, []
        for at, rows in evs:
            acc += rows
            pts.append((acc, at))
        cum[q] = pts
    out, boundary = [], 0
    for k in range(len(created_ms)):
        if not accepted[k]:
            out.append(INF)
            continue
        boundary += lines[k]
        done = []
        for pts in cum.values():
            t = next((at for c, at in pts if c >= boundary), None)
            done.append(INF if t is None else t)
        if not done:
            out.append(INF)
        else:
            out.append(max(done) - created_ms[k])
    return out


def backlog_max(created_ms, fresh):
    """Largest number of POSTs that had been sent but not yet committed by
    all four queries at any POST's send time."""
    done_at = [c + f for c, f in zip(created_ms, fresh)]
    best = 0
    for t in created_ms:
        pending = sum(1 for c, d in zip(created_ms, done_at) if c <= t < d)
        best = max(best, pending)
    return best


# ---- spans ------------------------------------------------------------------

def covered(intervals):
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Per span id: its duration minus the part its children cover (the
    children clipped to the parent's interval)."""
    kids = {}
    for s in spans:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        ivs = [(max(a, c["start_ns"]), min(b, c["end_ns"])) for c in kids.get(s["id"], [])]
        out[s["id"]] = (b - a) - covered([iv for iv in ivs if iv[1] > iv[0]])
    return out


def layer_summary(spans):
    """Per layer: span count, total and self milliseconds."""
    st = self_times(spans)
    out = {}
    for s in spans:
        d = out.setdefault(s["layer"], {"spans": 0, "total_ms": 0.0, "self_ms": 0.0})
        d["spans"] += 1
        d["total_ms"] += (s["end_ns"] - s["start_ns"]) / 1e6
        d["self_ms"] += st[s["id"]] / 1e6
    return out


# ---- workloads ----------------------------------------------------------------

class Result:
    def __init__(self):
        self.metrics = {}
        self.checks = []
        self.attempted = 0
        self.failed = 0
        self.details = {}

    def check(self, name, ok, detail=""):
        self.checks.append({"name": name, "ok": bool(ok), "detail": str(detail)[:500]})

    @property
    def correct(self):
        return all(c["ok"] for c in self.checks)


def _setup(raw, res):
    steps = raw["setup"]["steps"]
    failed = [s["name"] for s in steps if not s["ok"]]
    res.attempted += len(steps)
    res.failed += len(failed)
    res.check("setup steps all succeeded", not failed, failed)
    res.details["setup_steps"] = {s["name"]: s["s"] for s in steps}
    return raw["setup"]["jvm_start_s"] + sum(s["s"] for s in steps)


def _lateness(late, res, what):
    if not late:
        return
    p95, mx = percentile(late, 95), max(late)
    res.details[f"{what}_lateness_ms"] = {"p95": p95, "max": mx, "n": len(late)}
    res.check(f"{what} generator on schedule (lateness p95 <= {LATENESS_P95_BOUND_MS} ms, "
              f"max <= {LATENESS_MAX_BOUND_MS} ms)",
              p95 <= LATENESS_P95_BOUND_MS and mx <= LATENESS_MAX_BOUND_MS,
              f"p95={p95:.2f} max={mx:.2f}")


def _gets(raw, plan, res):
    """GET latencies of the serve phase and of the ingest phase."""
    g = raw["gets"]
    n = len(g["lat_ms"])
    res.details["get_window_s"] = raw["window_s"]
    res.details["get_throughput_per_s"] = n / raw["window_s"]
    good = [ok for ok in g["ok"]]
    res.attempted += n
    bad = n - sum(good)
    res.failed += bad
    res.check("every GET answered with the facade's answer", bad == 0, f"{bad}/{n} wrong")
    lat = [x if ok else INF for x, ok in zip(g["lat_ms"], good)]
    _lateness(g["late_ms"], res, "get")
    serve = [t < plan["serve_ms"] for t in g["sched_ms"]]
    return ([x for x, s in zip(lat, serve) if s], [x for x, s in zip(lat, serve) if not s])


def _dist(res, prefix, values):
    c, v = tail(values)
    res.details[prefix] = {"n": len(values), "p50": median(values),
                           "tail_percentile": c, "tail": v,
                           "supported_tail": supported_tail(len(values))}
    return v


def evaluate(workload, raw, plan, expect, digests=None):
    """All metrics, checks and counts for one run."""
    res = Result()
    setup_s = _setup(raw, res)
    e2e = {"setup_s": setup_s, "heap_retained_mb": raw["heap_retained_bytes"] / 2 ** 20}
    if workload == "ingest_serve":
        lat, mixed = _gets(raw, plan, res)
        res.details["ingest_phase_get_p50_ms"] = median(mixed)
        e2e["query_p50_ms"] = median(lat)
        e2e["query_tail_ms"] = _dist(res, "query_ms", lat)
        e2e["query_mean_ms"] = statistics.fmean(lat)
        fresh = _ingest(raw, plan, expect, res)
        e2e["fresh_p50_ms"] = median(fresh)
        e2e["fresh_tail_ms"] = _dist(res, "fresh_ms", fresh)
    else:
        walls = _analytics(raw, digests or {}, res)
        e2e["query_p50_ms"] = median(walls)
        e2e["query_tail_ms"] = _dist(res, "query_ms", walls)
        e2e["query_mean_ms"] = statistics.fmean(walls) if walls else math.nan
        e2e["fresh_p50_ms"] = e2e["query_p50_ms"]
        e2e["fresh_tail_ms"] = e2e["query_tail_ms"]
    for name, _ in END_TO_END:
        v = e2e[name]
        res.check(f"{name} is a finite positive number",
                  isinstance(v, (int, float)) and math.isfinite(v) and v > 0, v)
    res.metrics["e2e"] = e2e
    if plan["trace"]:
        res.metrics["layer"] = per_layer(workload, raw, plan, res)
        res.details["layers"] = layer_summary(raw["spans"])
    return res


def _ingest(raw, plan, expect, res):
    posts = raw["posts"]
    n = len(posts["status"])
    accepted = [s == 200 for s in posts["status"]]
    lines = [p[1].count("\n") for p in plan["posts"]]
    res.attempted += n
    res.failed += n - sum(accepted)
    res.check("every POST accepted", all(accepted), f"{n - sum(accepted)}/{n} refused")
    res.check("every POST's lines acknowledged",
              all(a == l for a, l, ok in zip(posts["accepted"], lines, accepted) if ok))
    _lateness(posts["late_ms"], res, "post")
    res.check("stream drained all accepted lines", raw["drained"] and raw["terminated"])
    warm = plan["warm_post"].count("\n")
    t0 = raw["t0_ns"]
    prog = {}
    for p in raw["progress"]:
        prog.setdefault(p["query"], []).append(((p["at_ns"] - t0) / 1e6, p["rows"]))
    # drop the warm-up lines from each query's cumulative count
    for q, evs in prog.items():
        left, shifted = warm, []
        for at, rows in evs:
            take = min(left, rows)
            left -= take
            shifted.append((at, rows - take))
        prog[q] = shifted
    fresh = freshness(posts["sched_ms"], lines, accepted, prog)
    res.details["ingest"] = {"backlog_posts_max": backlog_max(posts["sched_ms"], fresh)}
    t = raw["tables"]
    res.check("raw + quarantine rows equal accepted lines",
              t["raw"] + t["quarantine"] == expect["lines"],
              f'raw={t["raw"]} quarantine={t["quarantine"]} lines={expect["lines"]}')
    res.check("quarantine rows equal corrupt lines", t["quarantine"] == expect["corrupt"],
              f'{t["quarantine"]} vs {expect["corrupt"]}')
    res.check("daily counters equal generator sums",
              _same_counters(t["daily"], expect["daily"], 4))
    res.check("year counters equal generator sums",
              _same_counters(t["year"], expect["year"], 2))
    return fresh


def _same_counters(rows, expected, nkey):
    got = {tuple(r[:nkey]): (r[nkey], r[nkey + 1]) for r in rows}
    want = {tuple(k): v for k, v in expected.items()}
    if set(got) != set(want):
        return False
    return all(abs(got[k][0] - want[k][0]) <= SUM_TOL and got[k][1] == want[k][1]
               for k in want)


def _analytics(raw, digests, res):
    qs = raw["queries"]
    res.attempted += len(qs)
    bad = [q["name"] for q in qs if not q["ok"]]
    res.failed += len(bad)
    res.check("every registry query succeeded", not bad, bad)
    wrong = sorted({q["name"] for q in qs
                    if q["ok"] and digests.get(q["name"]) != q["digest"]})
    res.check("every result digest equals the recorded digest", not wrong, wrong)
    timed = [q for q in qs if q["pass"] > 0]
    res.details["passes"] = len(raw["pass_totals"])
    res.details["warm_ms"] = {q["name"]: q["wall_ms"] for q in qs if q["pass"] == 0}
    return [q["wall_ms"] if q["ok"] else INF for q in timed]


def per_layer(workload, raw, plan, res):
    """Every per-layer metric; 0 where the workload bypasses the layer."""
    m = {name: 0.0 for name, _ in per_layer_names()}
    m["jvm.peak_rss_mb"] = raw["peak_rss_kb"] / 1024.0
    if workload == "ingest_serve":
        g = raw["gets"]
        for r in ROUTES:
            svc = [s for s, rr, t in zip(g["svc_ms"], g["route"], g["sched_ms"])
                   if rr == r and t < plan["serve_ms"]]
            m[f"api.{r}.http_p50_ms"] = median(svc) if svc else 0.0
        m["api.ingest_get_p50_ms"] = res.details["ingest_phase_get_p50_ms"]
        calls = raw["facade"]["calls"]
        for r in ROUTES:
            ms = [c["ms"] for c in calls if c["route"] == r]
            m[f"api.{r}.facade_p50_ms"] = median(ms) if ms else 0.0
        m["api.coalesce_ratio"] = len(g["lat_ms"]) / max(1, raw["door_executions_in_window"])
        m["api.inflight_max"] = raw["inflight_max"]
        for k in ["jobs", "stages", "tasks", "plan_ms", "exec_ms", "task_ms", "input_bytes"]:
            m[f"spark.req.{k}"] = median([c[k] for c in calls])
        m["spark.req.rows_read_per_row_out"] = median(
            [c["scan_rows"] / max(1, c["rows_out"]) for c in calls])
        runs = sum(c["graft_rule_runs"] for c in calls)
        m["core.graft_rules_ms"] = sum(c["graft_rule_ns"] for c in calls) / 1e6 / len(calls)
        m["core.graft_rules_effective_ratio"] = (
            sum(c["graft_rule_effective"] for c in calls) / runs if runs else 0.0)
        posts = raw["posts"]
        m["ingest.post_p50_ms"] = median(posts["rtt_ms"])
        m["ingest.post_p95_ms"] = percentile(posts["rtt_ms"], 95)
        t0 = raw["t0_ns"]
        for q in STREAM_QUERIES:
            evs = [p for p in raw["progress"]
                   if p["query"] == q and p["rows"] > 0 and p["at_ns"] >= t0]
            d = lambda k: [p["durations"].get(k, 0) for p in evs]
            if evs:
                m[f"stream.{q}.batch_p50_ms"] = median(d("triggerExecution"))
                m[f"stream.{q}.batch_p95_ms"] = percentile(d("triggerExecution"), 95)
                m[f"stream.{q}.add_batch_p50_ms"] = median(d("addBatch"))
                m[f"stream.{q}.planning_p50_ms"] = median(d("queryPlanning"))
                m[f"stream.{q}.wal_commit_p50_ms"] = median(d("walCommit"))
            if q == "raw":
                m["stream.triggers"] = len(evs)
        last = {}
        for p in raw["progress"]:
            last[p["query"]] = p
        m["stream.state_rows"] = sum(last[q]["state_rows"] for q in ("daily", "year") if q in last)
        m["stream.state_mb"] = sum(last[q]["state_bytes"] for q in ("daily", "year")
                                   if q in last) / 2 ** 20
        m["stream.backlog_files_max"] = res.details["ingest"]["backlog_posts_max"]
        p = raw["parse"]
        m["sources.parse_lines_per_s"] = p["lines"] / median(p["seconds"])
    if workload == "analytics":
        timed = [q for q in raw["queries"] if q["pass"] > 0 and q["ok"]]
        passes = max(1, len(raw["pass_totals"]))
        for mod in MODULES:
            for k in ["build_ms", "plan_ms", "exec_ms"]:
                m[f"ops.{mod}.{k}"] = sum(q[k] for q in timed if q["module"] == mod) / passes
        for k in ["jobs", "stages", "tasks", "task_ms", "gc_ms", "input_bytes",
                  "shuffle_bytes", "spill_bytes"]:
            m[f"spark.analytics.{k}"] = median([p[k] for p in raw["pass_totals"]])
        ex = [e for e in raw["execs"] if not e["req"].startswith("a0.")]
        runs = sum(e["graft_rule_runs"] for e in ex)
        m["core.graft_rules_ms"] = sum(e["graft_rule_ns"] for e in ex) / 1e6 / max(1, len(timed))
        m["core.graft_rules_effective_ratio"] = (
            sum(e["graft_rule_effective"] for e in ex) / runs if runs else 0.0)
        m["plans.cap_flushes"] = sum(e["cap_flushes"] for e in ex) / passes
        steps = res.details["setup_steps"]
        for s in SETUP_STEPS:
            m[f"setup.{s}_s"] = steps.get(s, 0.0)
    return m
