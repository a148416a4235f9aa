"""Seeded run plans: everything a run sends to the program, made from --seed.

A plan is plain JSON read by the JVM harness. The same (workload, seed,
seconds) always yields the same plan; the program only ever sees what is in
it (request paths, POST bodies, query orders).
"""
import numpy as np

from metrics import MODULES

# ingest_serve runs two phases on one session. The serve phase sends GETs
# alone while the streams idle: the query plane's latency, without the
# fan-out's CPU in it. The ingest phase then sends CSV POSTs (each
# LINES_PER_POST lines) beside a lighter GET mix. SERVE_SHARE of --seconds
# goes to the serve phase. Four closed-loop clients reach ~30 GETs/s on a
# quiet 4-core host without ingest, so neither GET rate is near capacity.
SERVE_SHARE = 0.5
SERVE_GET_RATE = 6.0
INGEST_GET_RATE = 4.0
INGEST_POST_RATE = 10.0
LINES_PER_POST = 10
# short against a fan-out batch (the daily and year MERGE batches take about
# 4-6 s on 4 cores), so freshness is batch time rather than time spent
# waiting for the next trigger
TRIGGER_MS = 1000
CORRUPT_SHARE = 0.005
INGEST_WSIDS = 100
# analytics: the registry sample is the first query of each operator module
# (Analytics.sample, in MODULES order; the digests live in
# analytics_digests.json). A run makes a fixed number of timed passes, one
# per PASS_S of --seconds and at least MIN_PASSES, so the sample count (and
# the tail percentile it supports) never depends on how fast the host is:
# 4 passes x 17 = 68 samples, a p80 with ten samples beyond it.
PASS_S = 6.0
MIN_PASSES = 4
# traced runs call the facade directly on this many distinct keys per route
FACADE_PER_ROUTE = 12

STATIONS = 1500          # distinct user_id values in the sf0.1 events table
ZIPF_S = 1.1
ROUTES = ["current", "daily", "monthly", "annual", "topk", "station"]
ROUTE_P = [0.2, 0.2, 0.15, 0.2, 0.05, 0.2]
INGEST_SF = 0.1
ANALYTICS_SF = 0.001
CORPUS_SEED = 42


def arrivals(rng, rate, seconds):
    """Poisson arrival times (ms) for a fixed count rate*seconds: sorted
    uniform draws are a Poisson process conditioned on its count."""
    n = max(1, int(round(rate * seconds)))
    return np.sort(rng.uniform(0.0, seconds * 1000.0, n)).round().astype(int).tolist()


def zipf_station(rng, n, perm):
    """n station ids, rank-Zipf(ZIPF_S) over STATIONS under a seeded
    permutation, so which stations are hot depends on the seed."""
    ranks = np.arange(1, STATIONS + 1)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    return perm[rng.choice(STATIONS, size=n, p=p)]


def get_path(route, station, rng):
    s = int(station)
    if route == "current":
        return f"/weather/current?station={s}"
    if route == "daily":   # day 31 has no data: a 404 the check also covers
        return f"/weather/daily?station={s}&year=2024&month=1&day={int(rng.integers(1, 32))}"
    if route == "monthly":
        return f"/weather/monthly?station={s}&year=2024&month=1"
    if route == "annual":
        return f"/weather/precip/annual?station={s}&year=2024"
    if route == "topk":
        return f"/weather/precip/topk?k={int(rng.choice([5, 10, 20]))}"
    return f"/weather/station?id={s}"


def gets(rng, rate, seconds, perm, start_ms=0):
    """GETs at a constant rate from start_ms, with a fixed route mix
    (ROUTE_P of the count); the seed draws their order and their keys."""
    n = max(1, int(round(rate * seconds)))
    times = [start_ms + int(round((i + 0.5) * 1000.0 / rate)) for i in range(n)]
    counts = [int(round(p * n)) for p in ROUTE_P]
    counts[0] += n - sum(counts)
    routes = rng.permutation(np.repeat(np.arange(len(ROUTES)), counts))
    stations = zipf_station(rng, n, perm)
    return [[t, get_path(ROUTES[r], s, rng)] for t, r, s in zip(times, routes, stations)]


def warm_gets():
    return [get_path(r, 1, np.random.default_rng(0)) for r in ROUTES]


def csv_line(j, rng):
    """Global line j in the reference's 13-field wire format; returns
    (line, key or None when the line is corrupt, one_hour_precip)."""
    w = j % INGEST_WSIDS
    step = j // INGEST_WSIDS
    hour, day_index = step % 24, step // 24
    day, month = day_index % 28 + 1, (day_index // 28) % 12 + 1
    wsid = f"{724000 + w}:23234"
    precip = 0.0 if rng.random() < 0.7 else round(float(rng.uniform(0.0, 5.0)), 1)
    year = "2008"
    corrupt = rng.random() < CORRUPT_SHARE
    if corrupt:
        year = "2O08"   # non-numeric key field: quarantined, never counted
    fields = [wsid, year, f"{month:02d}", f"{day:02d}", f"{hour:02d}",
              f"{rng.normal(10.0, 8.0):.1f}", f"{rng.normal(2.0, 5.0):.1f}",
              f"{rng.uniform(990.0, 1040.0):.1f}", str(int(rng.integers(0, 360))),
              f"{rng.uniform(0.0, 20.0):.1f}", str(int(rng.integers(0, 20))),
              f"{precip:.1f}", "0.0"]
    key = None if corrupt else (wsid, 2008, month, day)
    return ",".join(fields), key, precip


def ingest_lines(rng, first, n):
    return [csv_line(j, rng) for j in range(first, first + n)]


def make(workload, seed, seconds, trace, corpus, run_dir):
    """The run plan plus the expectations the output checks compare with."""
    plan = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "corpus": corpus, "run_dir": run_dir}
    expect = {}
    if workload == "ingest_serve":
        rng = np.random.default_rng([seed, 2])
        serve_s = seconds * SERVE_SHARE
        serve_ms = int(round(serve_s * 1000))
        perm = rng.permutation(STATIONS)   # which stations are hot
        plan.update(gets=gets(rng, SERVE_GET_RATE, serve_s, perm) +
                    gets(rng, INGEST_GET_RATE, seconds - serve_s, perm, serve_ms),
                    serve_ms=serve_ms, warm_gets=warm_gets(),
                    facade_per_route=FACADE_PER_ROUTE, serve_get_rate=SERVE_GET_RATE,
                    ingest_get_rate=INGEST_GET_RATE)
        warm = ingest_lines(rng, 0, LINES_PER_POST)
        times = [serve_ms + t for t in arrivals(rng, INGEST_POST_RATE, seconds - serve_s)]
        posts, lines = [], list(warm)
        for k, t in enumerate(times):
            batch = ingest_lines(rng, LINES_PER_POST * (k + 1), LINES_PER_POST)
            lines.extend(batch)
            posts.append([t, "\n".join(x[0] for x in batch) + "\n"])
        plan.update(posts=posts, warm_post="\n".join(x[0] for x in warm) + "\n",
                    trigger_ms=TRIGGER_MS, post_rate=INGEST_POST_RATE,
                    lines_per_post=LINES_PER_POST)
        daily, year = {}, {}
        for _, key, precip in lines:
            if key is None:
                continue
            d = daily.setdefault(key, [0.0, 0])
            d[0] += precip
            d[1] += 1
            y = year.setdefault(key[:2], [0.0, 0])
            y[0] += precip
            y[1] += 1
        expect = {"lines": len(lines), "corrupt": sum(1 for x in lines if x[1] is None),
                  "daily": daily, "year": year}
    return plan, expect


def analytics_passes(seconds):
    return max(MIN_PASSES, round(seconds / PASS_S))


def analytics_plan(plan, seed, seconds):
    """Seed-permuted timed passes over the registry sample, as indices into
    Analytics.sample (the harness runs an untimed warm-up pass first)."""
    rng = np.random.default_rng([seed, 3])
    plan["passes"] = [rng.permutation(len(MODULES)).tolist()
                      for _ in range(analytics_passes(seconds))]
    return plan
