#!/usr/bin/env python3
"""KillrWeather benchmark: one command, two workloads.

    python3 perfbench/run.py --workload {ingest_serve,analytics}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the program. The first run builds the
program and the harness from source (sbt, into target/ and .bench_build/);
later runs reuse the build while the sources are unchanged. The run
generates its inputs from --seed, drives the workload through the JVM
harness (perfbench/src), checks every output, prints each metric as a bare
`name value unit` record, and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones. The records,
checks and provenance also go to .bench_build/results/.

Exit status: 0 when every check passed, 1 when a check failed, 2 when the
program cannot be built or run here (nothing is printed on stdout then).

`--record-digests` re-records perfbench/analytics_digests.json from the
current tree (only do this on a tree that passes the DuckDB oracle gate).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import metrics  # noqa: E402
import plans  # noqa: E402

BUILD_DIR = ".bench_build"
DIGESTS = os.path.join(HERE, "analytics_digests.json")
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 840        # the first run may take 900 s because it builds
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class Unrunnable(Exception):
    """The program cannot be built or run in this directory."""


def source_files(root):
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(root, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def source_sha(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_tree(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD^{tree}"], cwd=root, text=True,
                             capture_output=True, timeout=10)
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=root, text=True,
                               capture_output=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip() + ("-dirty" if dirty.stdout.strip() else "")
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def sbt_env(tmp):
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        # an offline mirror is configured: resolve only from it
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
        env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    return env


def build(root, sha, deadline):
    """Compile program + harness once per source state; returns the classpath."""
    stamp = os.path.join(root, BUILD_DIR, f"classpath-{sha[:16]}.txt")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            return f.read().strip()
    if shutil.which("sbt") is None:
        raise Unrunnable("sbt is not on PATH")
    log = os.path.join(root, BUILD_DIR, "build.log")
    tmp = os.path.join(root, BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as out:
        try:
            p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"],
                               cwd=os.path.join(root, "perfbench"), env=sbt_env(tmp),
                               stdout=subprocess.PIPE, stderr=out, text=True,
                               stdin=subprocess.DEVNULL,
                               timeout=max(30, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise Unrunnable(f"build timed out (log: {log})")
    out_lines = [l for l in p.stdout.splitlines() if l.strip()]
    with open(log, "a") as f:
        f.write(p.stdout)
    if p.returncode != 0 or not out_lines or "classes" not in out_lines[-1]:
        raise Unrunnable(f"build failed (log: {log})")
    cp = out_lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(cp)
    return cp


def java_cmd(cp, run_dir):
    heap = os.environ.get("SPARK_DRIVER_MEM", "2g")
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS]
    return (["java"] + opens +
            # System.gc() stays a full collection: the harness reads the
            # retained heap after one
            [f"-Xmx{heap}", "-XX:-UsePerfData",
             "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
             "-cp", cp, "graft.perfbench.Harness", run_dir])


def run_harness(cp, plan, run_dir, deadline):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as out:
        p = subprocess.Popen(java_cmd(cp, run_dir), stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            raise Unrunnable(f"harness exceeded the time limit (log: {log})")
    raw_path = os.path.join(run_dir, "raw.json")
    if p.returncode != 0 or not os.path.isfile(raw_path):
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        raise Unrunnable(f"harness failed with code {p.returncode}:\n{tail}")
    with open(raw_path) as f:
        return json.load(f)


def checkout_ok(root):
    return (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")) and
            os.path.isfile(os.path.join(root, "perfbench/build.sbt")))


def load_digests():
    with open(DIGESTS) as f:
        return json.load(f)


def prepare(root, workload, seed, seconds, trace):
    sf = plans.ANALYTICS_SF if workload == "analytics" else plans.INGEST_SF
    data = corpus.write(os.path.join(root, BUILD_DIR, "corpus", f"sf{sf}-s{plans.CORPUS_SEED}"),
                        sf, plans.CORPUS_SEED)
    run_dir = os.path.join(root, BUILD_DIR, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan, expect = plans.make(workload, seed, seconds, trace, data, run_dir)
    plan["sf"] = sf
    if workload == "analytics":
        plans.analytics_plan(plan, seed, seconds)
    return plan, expect, run_dir


def fmt(v):
    return repr(float(v))


def main(argv=None):
    ap = argparse.ArgumentParser(description="KillrWeather benchmark")
    ap.add_argument("--workload", choices=["ingest_serve", "analytics"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args(argv)
    t_start = time.time()
    root = os.getcwd()
    if not checkout_ok(root):
        print("perfbench: run from the root of a checkout of the program "
              "(build.sbt, src/ and perfbench/ are required)", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(root, BUILD_DIR, "results"), exist_ok=True)
    try:
        sha = source_sha(root)
        cp = build(root, sha, t_start + BUILD_LIMIT_S)
        if a.record_digests:
            return record_digests(root, cp)
        if not a.workload:
            ap.error("--workload is required")
        t_run = time.time()
        plan, expect, run_dir = prepare(root, a.workload, a.seed, a.seconds, a.trace)
        raw = run_harness(cp, plan, run_dir, t_run + RUN_LIMIT_S)
    except Unrunnable as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    digests = {q["name"]: q["digest"] for q in load_digests()["queries"]}
    res = metrics.evaluate(a.workload, raw, plan, expect, digests)
    units = dict(metrics.END_TO_END + metrics.per_layer_names())
    chosen = res.metrics["layer"] if a.trace else res.metrics["e2e"]
    records = [(k, v, units[k]) for k, v in chosen.items()]
    provenance = {
        "git_tree": git_tree(root), "source_sha256": sha, "nproc": os.cpu_count(),
        "heap": os.environ.get("SPARK_DRIVER_MEM", "2g"), "sf": plan["sf"],
        "seed": a.seed, "seconds": a.seconds, "traced": bool(a.trace),
        "offered": {k: plan[k] for k in ("serve_get_rate", "ingest_get_rate", "post_rate",
                                         "lines_per_post", "trigger_ms", "serve_ms")
                    if k in plan},
        **raw["provenance"]}
    result_file = os.path.join(root, BUILD_DIR, "results",
                               f"{a.workload}-s{a.seed}-t{a.trace}.json")
    with open(result_file, "w") as f:
        json.dump({"records": [f"{k} {fmt(v)} {u}" for k, v, u in records],
                   "end_to_end": res.metrics["e2e"], "checks": res.checks,
                   "attempted": res.attempted, "failed": res.failed,
                   "details": res.details, "provenance": provenance,
                   "expect_s": raw.get("expect_s")}, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    for c in res.checks:
        if not c["ok"]:
            print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    for k, v, u in records:
        print(f"{k} {fmt(v)} {u}")
    print(json.dumps({"correct": res.correct, "attempted": res.attempted, "failed": res.failed,
                      "metrics": {k: {"value": float(v), "unit": u} for k, v, u in records}}))
    return 0 if res.correct else 1


def record_digests(root, cp):
    """Run the analytics plan of seeds 0 and 1 in separate JVMs; keep every
    query whose digest is the same in every pass of both."""
    seen = {}
    for rep in range(2):
        plan, _, run_dir = prepare(root, "analytics", rep, 1, 0)
        raw = run_harness(cp, plan, run_dir, time.time() + 900)
        for q in raw["queries"]:
            seen.setdefault((q["name"], q["module"]), set()).add(q.get("digest"))
        shutil.rmtree(run_dir, ignore_errors=True)
    stable = [{"name": n, "module": m, "digest": next(iter(d))}
              for (n, m), d in sorted(seen.items(), key=lambda x: metrics.MODULES.index(x[0][1]))
              if len(d) == 1 and None not in d]
    dropped = sorted(n for (n, _), d in seen.items() if len(d) != 1 or None in d)
    with open(DIGESTS, "w") as f:
        json.dump({"corpus": {"sf": plans.ANALYTICS_SF, "seed": plans.CORPUS_SEED},
                   "dropped_unstable": dropped, "queries": stable}, f, indent=1)
        f.write("\n")
    print(f"recorded {len(stable)} digests, dropped {len(dropped)} unstable: {dropped}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
