#!/usr/bin/env python3
"""CDC benchmark: folder-landed -> visible freshness, backfill throughput,
and (with --trace 1) a per-layer split from a traced replay.

    python3 perfbench/run.py --workload stream_cow --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt; later runs reuse the build. Human-readable lines (every
metric by name with its unit, then the correctness verdict) come first; the
last line of stdout is one JSON object with `correct`, `attempted`, `failed`
and `metrics`; the exit code is then 0 (read `correct`). A build or run
that breaks before the result exits non-zero without printing one.
"""
import argparse
import glob
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import observe  # noqa: E402
import verify  # noqa: E402

# stream_cow: a copy-on-write stream into a BASE_ROWS-row target with
# symlink, Iceberg and Delta exports. One folder per trigger, trigger
# interval 0, maintenance every 10 batches. INTERVAL_S is fixed once (about
# 65% utilisation of the engine's steady-state batch time when it was set)
# and never derived per run.
BASE_ROWS = 50_000
FOLDER_ROWS = 1_000
WARMUP_FOLDERS = 6
INTERVAL_S = 2.7
MAINTENANCE_EVERY = 10
NUM_BUCKETS = 16
# backfill: BF_FOLDERS folders x BF_CHUNKS chunks x BF_CHUNK_ROWS rows,
# Overwrite, one (Iceberg) export.
BF_FOLDERS = 50
BF_CHUNKS = 4
BF_CHUNK_ROWS = 300
SETUP_REPEATS = 3
# traced replay, per merge mode: warm-up and measured folders after the base
# folder, and the maintenance cadence. The copy-on-write leg keeps the
# stream's cadence (a tick lands on measured batch 7); the merge-on-read leg
# ticks every 5 batches so a whole compaction cycle, and deletes outstanding
# after it, fit the run.
TRACE_LEGS = {"copy-on-write": (2, 8, MAINTENANCE_EVERY), "merge-on-read": (1, 5, 5)}

JVM_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(*a, **kw):
    print(*a, flush=True, **kw)


def cpus():
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ build
def build():
    """Compile the engine and the harness once per checkout; returns the classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        cp = open(cp_file).read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("no engine build (build.sbt) at the repository root")
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def java(cp, main, run_dir, env_extra, args=(), heap="2g"):
    """Launch a JVM on the build's classpath. The heap is fixed and touched up
    front (-Xms = -Xmx, AlwaysPreTouch), so peak RSS does not depend on when
    the collector chose to grow the heap."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()), SPARK_LOCAL_DIRS=tmp, **env_extra)
    cmd = ["java", *JVM_OPENS, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, main, *args]
    return subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)


def stop(p, grace=30):
    if p.poll() is None:
        p.send_signal(signal.SIGTERM)
        try:
            p.wait(grace)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()


def new_run_dir(name):
    d = os.path.join(WORK, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def dirs_of(run_dir, *names):
    return {n: os.path.join(run_dir, n) for n in names}


def tail_value(values):
    """p75 of the run's folders: with the dozen folders a run holds, three
    lie beyond it. A higher percentile would rest on one or two folders and
    swing with where the maintenance tick falls."""
    return statistics.quantiles(values, n=4)[-1]


# ------------------------------------------------------------ stream_cow
def stream_spec(src, d, mode="copy-on-write", statsd_port=None):
    spec = {"sourcePath": src, "entityName": gen.ENTITY, "targetLocation": d["target"],
            "checkpointLocation": d["ckpt"], "changeCaptureIntervalSeconds": 0,
            "changeCaptureJitterVariance": 0, "maxFoldersPerTrigger": 1,
            "numBuckets": NUM_BUCKETS, "mergeMode": mode,
            "icebergExportDir": d["iceberg"], "deltaExportDir": d["delta"],
            "maintenance": {"batchThreshold": MAINTENANCE_EVERY}}
    if mode == "copy-on-write":
        spec["exportDir"] = d["symlink"]
    if statsd_port:
        spec["statsdAddress"] = f"127.0.0.1:{statsd_port}"
    return spec


def write_stream_feed(seed, n_folders, staging):
    """Base folder plus n_folders change folders; the first folders of a seed
    are the same whatever n_folders is."""
    feed = gen.Feed(seed, BASE_ROWS, n_folders, FOLDER_ROWS)
    folders = list(feed.folders())
    csv_bytes = {i: gen.write_folder(staging, i, rows, 1) for i, rows in folders}
    return folders, csv_bytes


def stream_outputs(run, d):
    # the symlink export publishes each version into a sibling `symlink.v<n>` directory
    return [d["target"], d["iceberg"], d["delta"]] + glob.glob(d["symlink"] + "*")


def stream_cow(cp, seed, seconds):
    t_setup = time.time()
    run = new_run_dir(f"stream_cow-{seed}")
    src, stg = os.path.join(run, "src"), os.path.join(run, "staging")
    os.makedirs(src)
    d = dirs_of(run, "target", "ckpt", "symlink", "iceberg", "delta")
    n = math.ceil(seconds / INTERVAL_S)
    last = WARMUP_FOLDERS + n
    folders, csv_bytes = write_stream_feed(seed, WARMUP_FOLDERS + n, stg)
    statsd = observe.StatsdReceiver()
    p = java(cp, "graft.app.Main", run,
             {"STREAMCONTEXT__SPEC": json.dumps(stream_spec(src, d, statsd_port=statsd.port))})
    tail = observe.LogTailer(p.stderr)
    hwm = 0
    landings = []
    try:
        for i in range(WARMUP_FOLDERS + 1):
            gen.land(stg, src, i)
            name = gen.folder_name(i)
            if not tail.wait_for(lambda ev: name in tail.committed(), 180):
                raise RuntimeError(f"warm-up folder {name} not committed")
        setup_s = time.time() - t_setup
        started = observe.ts_epoch(tail.of("stream_started")[0]["ts"])
        base = tail.committed()[gen.folder_name(0)][0]
        log(f"setup: engine start {started - t_setup:.1f} s, base folder {base - started:.1f} s, "
            f"warm-up folders {time.time() - base:.1f} s")
        before = observe.file_sizes(*stream_outputs(run, d))
        start = time.time() + 0.2
        lander = subprocess.Popen([sys.executable, os.path.join(HERE, "lander.py"), stg, src,
                                   repr(start), repr(INTERVAL_S), str(WARMUP_FOLDERS + 1), str(n)],
                                  stdout=subprocess.PIPE, text=True, stdin=subprocess.DEVNULL)
        landings = [json.loads(l) for l in lander.stdout]
        lander.wait()
        tail.wait_for(lambda ev: gen.folder_name(last) in tail.committed(), 60)
        hwm = observe.vm_hwm_kb(p.pid)
    finally:
        stop(p)
        statsd.close()
    after = observe.file_sizes(*stream_outputs(run, d))
    committed = tail.committed()
    fresh, lag, missing = [], [], 0
    commit_times = sorted(t for t, _ in committed.values())
    rows_in, last_commit = 0, 0.0
    for l in landings:
        c = committed.get(gen.folder_name(l["index"]))
        if c is None:
            missing += 1
            continue
        fresh.append((c[0] - l["due"]) * 1000.0)
        rows_in += c[1]["rows"]
        last_commit = max(last_commit, c[0])
        # landed folders not yet committed when this one was landed
        lag.append(sum(1 for x in landings if x["landed"] <= l["landed"]) -
                   sum(1 for t in commit_times if t <= l["landed"]) + WARMUP_FOLDERS + 1)
    model = gen.Model()
    for i, rows in folders:
        model.apply(rows)
    checks = verify.check_all(d["target"], model.expected(), d["iceberg"], d["delta"])
    landed_csv = sum(csv_bytes[l["index"]] for l in landings)
    lateness = [(l["landed"] - l["due"]) * 1000.0 for l in landings]
    return {
        "run": run, "fresh": fresh, "setup_s": setup_s, "hwm_kb": hwm,
        "rows_per_s": rows_in / (last_commit - landings[0]["due"]) if fresh else 0.0,
        "write_amp": observe.created_bytes(before, after) / max(1, landed_csv),
        "batch_ms": statsd.batch_ms()[WARMUP_FOLDERS + 1:], "lag": lag, "checks": checks,
        "attempted": n + len(checks), "failed": missing + sum(1 for v in checks.values() if v),
        "stream_failed": tail.failed(), "lateness_ms": lateness,
    }


# -------------------------------------------------------------- backfill
def write_backfill_feed(seed, src):
    feed = gen.Feed(seed, 0, BF_FOLDERS, BF_CHUNKS * BF_CHUNK_ROWS)
    model, csv, rows_in = gen.Model(), 0, 0
    for i, rows in feed.folders():
        if i == 0:
            continue
        model.apply(rows)
        rows_in += len(rows)
        csv += gen.write_folder(src, i, rows, BF_CHUNKS)
    gen.stamp(src, gen.folder_name(BF_FOLDERS))
    return model, csv, rows_in


def backfill(cp, seed, seconds):
    run = new_run_dir(f"backfill-{seed}")
    src = os.path.join(run, "src")
    # Set-up is the seeded fixture alone (each backfill pays its own process
    # start); it is written SETUP_REPEATS times and the median reported.
    setups = []
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(src, ignore_errors=True)
        t_setup = time.time()
        model, csv_bytes, rows_in = write_backfill_feed(seed, src)
        setups.append(time.time() - t_setup)
    setup_s = statistics.median(setups)
    t0 = time.time()
    walls, hwms, d, failed, attempted, amp = [], [], None, 0, 0, 0.0
    # back-to-back backfills for as long as another one still fits the window
    while not walls or (time.time() - t0) + walls[-1] <= seconds:
        if d:
            shutil.rmtree(os.path.join(run, f"bf{len(walls) - 1}"), ignore_errors=True)
        d = dirs_of(os.path.join(run, f"bf{len(walls)}"), "target", "iceberg")
        spec = {"sourcePath": src, "entityName": gen.ENTITY, "targetLocation": d["target"],
                "numBuckets": NUM_BUCKETS, "backfillBehavior": "Overwrite",
                "icebergExportDir": d["iceberg"]}
        attempted += 1
        launched = time.time()
        p = java(cp, "graft.app.Main", run, {"STREAMCONTEXT__SPEC": json.dumps(spec),
                                             "STREAMCONTEXT__BACKFILL": "true"})
        tail = observe.LogTailer(p.stderr)
        hwm = 0
        while p.poll() is None:
            hwm = max(hwm, observe.vm_hwm_kb(p.pid))
            time.sleep(0.05)
        tail.thread.join()
        done = tail.of("backfill_completed")
        if p.returncode != 0 or not done:
            failed += 1
            log("backfill failed:", *list(tail.plain)[-15:], sep="\n  ")
            break
        walls.append(observe.ts_epoch(done[0]["ts"]) - launched)
        hwms.append(hwm)
        amp = observe.created_bytes({}, observe.file_sizes(d["target"], d["iceberg"])) / csv_bytes
    checks = verify.check_all(d["target"], model.expected(), d["iceberg"]) if not failed else {}
    return {
        "run": run, "setup_s": setup_s, "walls": walls, "rows_in": rows_in, "hwm_kb": max(hwms or [0]),
        "expected": model.expected(),
        "write_amp": amp, "checks": checks, "attempted": attempted + len(checks),
        "failed": failed + sum(1 for v in checks.values() if v), "stream_failed": False,
    }


# ----------------------------------------------------------------- trace
def harness(cp, run, mode, conf):
    """Run the traced replay; returns the harness's metrics dict."""
    conf_path, out_path = os.path.join(run, "trace_conf.json"), os.path.join(run, "trace_out.json")
    conf = dict(conf, out=out_path, spans=os.path.join(run, "spans.jsonl"))
    with open(conf_path, "w") as f:
        json.dump(conf, f)
    p = java(cp, "graft.perfbench.Harness", run, {}, args=(mode, conf_path), heap="3g")
    tail = observe.LogTailer(p.stderr)
    p.wait()
    tail.thread.join()
    if p.returncode != 0 or not os.path.exists(out_path):
        log("harness failed:", *list(tail.plain)[-25:], sep="\n  ")
        raise RuntimeError("traced replay failed")
    return json.load(open(out_path))


def trace_stream(cp, seed, seconds):
    # the untraced reference stream runs a third of the window, so that it
    # and the replay fit one run's time limit
    r = stream_cow(cp, seed, seconds / 3)
    run = r["run"]
    specs, warmup, models = {}, {}, {}
    for mode, (warm, measured, every) in TRACE_LEGS.items():
        leg = os.path.join(run, "trace_" + mode.split("-")[0])
        src = os.path.join(leg, "src")
        folders, _ = write_stream_feed(seed, warm + measured, src)
        gen.stamp(src, gen.folder_name(warm + measured))
        specs[mode] = stream_spec(src, dirs_of(leg, "target", "ckpt", "symlink", "iceberg", "delta"), mode)
        specs[mode]["maintenance"]["batchThreshold"] = every
        warmup[mode] = warm
        models[mode] = gen.Model()
        for i, rows in folders:
            models[mode].apply(rows)
    rng = random.Random(seed)
    mor_expected = models["merge-on-read"].expected()
    lookups = rng.sample(sorted(mor_expected), 2) + ["00000000-0000-4000-8000-000000000000"]
    out = harness(cp, run, "stream", {"specs": specs, "warmup": warmup, "lookups": lookups})
    cow = specs["copy-on-write"]
    checks = verify.check_all(cow["targetLocation"], models["copy-on-write"].expected(),
                              cow["icebergExportDir"], cow["deltaExportDir"])
    expected = mor_expected
    out["attempted"], out["failed"] = len(checks), sum(1 for v in checks.values() if v)
    for reader, got in out["reads"].items():
        for k, v in got["lookups"].items():
            out["attempted"] += 1
            out["failed"] += v != expected.get(k, (None,))[0]
        out["attempted"] += 1
        out["failed"] += not (got["count"] == got["distinct"] == len(expected))
    log("traced replay read-backs:", json.dumps(checks), "reads:", json.dumps(out["reads"]))
    untraced = statistics.median(r["batch_ms"])
    m = out["metrics"]
    m["pipeline.batch_ms.untraced"] = untraced
    m["sources.lag_folders"] = statistics.median(r["lag"])
    m["trace.coverage"] = m["trace.stage_span_ms"] / untraced
    m["trace.residual_ms"] = untraced - m["trace.stage_span_ms"]
    m["trace.overhead_ms"] = m["pipeline.batch_ms"] - untraced
    return r, out


def trace_backfill(cp, seed, seconds):
    r = backfill(cp, seed, 1)
    d = dirs_of(os.path.join(r["run"], "trace"), "target", "iceberg")
    spec = {"sourcePath": os.path.join(r["run"], "src"), "entityName": gen.ENTITY,
            "targetLocation": d["target"], "numBuckets": NUM_BUCKETS,
            "backfillBehavior": "Overwrite", "icebergExportDir": d["iceberg"]}
    out = harness(cp, r["run"], "backfill", {"specs": {"copy-on-write": spec},
                                             "warmup": {"copy-on-write": 0}, "lookups": []})
    checks = verify.check_all(d["target"], r["expected"], d["iceberg"])
    out["attempted"], out["failed"] = len(checks), sum(1 for v in checks.values() if v)
    log("traced replay read-backs:", json.dumps(checks))
    untraced = r["walls"][0] * 1000.0
    m = out["metrics"]
    m["pipeline.batch_ms.untraced"] = untraced
    m["sources.lag_folders"] = float(BF_FOLDERS)
    m["trace.coverage"] = m["trace.stage_span_ms"] / untraced
    m["trace.residual_ms"] = untraced - m["trace.stage_span_ms"]
    m["trace.overhead_ms"] = m["pipeline.batch_ms"] - untraced
    return r, out


# metrics the benchmark adds to the harness's per-layer set
TRACE_UNITS = {"pipeline.batch_ms.untraced": "ms", "sources.lag_folders": "count",
               "trace.coverage": "ratio", "trace.residual_ms": "ms", "trace.overhead_ms": "ms"}


# ------------------------------------------------------------------ main
def end_to_end(workload, r):
    """Every end-to-end metric, for either workload. For a backfill, a
    folder's freshness is the backfill's wall time (all folders are due at
    launch) and its tail the slowest backfill of the run; a stream's
    rows/s is change rows committed over the measured window."""
    m = {"setup_s": (r["setup_s"], "s"), "peak_rss_mb": (r["hwm_kb"] / 1024.0, "MB"),
         "write_amp": (r["write_amp"], "ratio")}
    if workload == "backfill":
        m["rows_per_s"] = (r["rows_in"] / statistics.median(r["walls"]), "1/s")
        m["freshness_p50_ms"] = (statistics.median(r["walls"]) * 1000.0, "ms")
        m["freshness_tail_ms"] = (max(r["walls"]) * 1000.0, "ms")
        log("backfill wall s:", " ".join(f"{w:.2f}" for w in r["walls"]))
    else:
        tail = tail_value(r["fresh"])
        m["freshness_p50_ms"] = (statistics.median(r["fresh"]), "ms")
        m["freshness_tail_ms"] = (tail, "ms")
        m["rows_per_s"] = (r["rows_per_s"], "1/s")
        log(f"freshness samples {len(r['fresh'])}; tail = p75")
        log("freshness ms, sorted:", " ".join(f"{x:.0f}" for x in sorted(r["fresh"])))
        log("untraced batch_ms (StatsD):", " ".join(f"{x:.0f}" for x in r["batch_ms"]))
        late = r["lateness_ms"]
        log(f"lander lateness ms: median {statistics.median(late):.1f} max {max(late):.1f}")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["stream_cow", "backfill"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=35)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()
    cp = build()
    if a.trace:
        fn = trace_stream if a.workload == "stream_cow" else trace_backfill
        r, out = fn(cp, a.seed, a.seconds)
        units = dict(out["units"], **TRACE_UNITS)
        metrics = {k: (v, units[k]) for k, v in sorted(out["metrics"].items())}
        failed = r["failed"] + out.get("failed", 0)
        attempted = r["attempted"] + out.get("attempted", 0)
    else:
        r = (stream_cow if a.workload == "stream_cow" else backfill)(cp, a.seed, a.seconds)
        metrics = end_to_end(a.workload, r)
        failed, attempted = r["failed"], r["attempted"]
    if r["stream_failed"]:
        failed += 1
    for k, (v, u) in metrics.items():
        log(f"{k:40s} {v:14.4f} {u}")
    log("read-back mismatches:", json.dumps(r["checks"]))
    correct = failed == 0
    log("correct:", "yes" if correct else "NO", f"({failed} of {attempted} operations failed)")
    if not a.keep:
        shutil.rmtree(r["run"], ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
