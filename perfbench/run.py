#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. A run builds the harness (graft's
sources plus perfbench/harness) with sbt whenever those sources, or the
benchmark's own files, differ from the last build; then it

  1. re-stages the workload's inputs from --seed (perfbench/gen.py),
  2. times session set-up in fresh JVMs (setup_s is their median),
  3. runs the workload in one JVM through graft's public functions:
     a cold pass, a warm-up pass, then measured passes until --seconds have
     passed since the warm-up, at least one (closed loop, one client
     thread; esb_channel adds an open loop with one generator thread),
  4. checks every call's output against DuckDB over SparkEntry.oracleSql
     on the same inputs (untimed), and
  5. prints {"correct", "attempted", "failed", "metrics"} as its last line:
     end-to-end metrics with --trace 0, per-layer metrics with --trace 1
     (a separate run whose measured passes alternate traced and untraced).

Spark runs as local[nproc] with the driver heap of the tier-1 test formula
(half of RAM, clamped to 2..8 GB) and graft's default configuration: no
spark.graft.* setting is passed. Host noise (CPU steal, load average) at the
start and end of the run goes to stderr and to the work directory; it is a
diagnostic, not a metric. Everything the run writes stays under
perfbench/work/ and perfbench/harness/target/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
WORK = os.path.join(HERE, "work")
GATE_EDGES = 1 << 22  # LocalSolve's default size gate (undirected edges)
SETUP_PROBES = 1
# Time limit after the build: set-up, the cold and warm-up passes, the
# checks (about 60 s on a 4-core host) with room to spare, plus twice the
# measured window.
FIXED_S = 100

# (call, layer): registry queries by SparkEntry name, plus direct calls into
# store.MessageStore ("store.*") and streaming ("stream.*").
ESB_CALLS = (
    [(q, "api") for q in "q_fork_merge q_case_routing q_reject_split".split()]
    + [(q, "store") for q in "store.save store.change_state store.search store.replay".split()]
    + [("q_json_parse", "functions")]
    + [("stream.sessionize", "streaming")])
CURATION_CALLS = (
    [(q, "graph") for q in "q_pagerank q_ktruss q_bowtie".split()]
    + [("q_edit_distance", "dedup")]
    + [(q, "sim") for q in "q_knn_classify q_hard_negatives".split()])

# Sizes, rates and the reasons for each workload are documented in
# perfbench/README.md; keep the two in step.
WORKLOADS = {
    "esb_channel": dict(calls=ESB_CALLS, mutations=2, rate=30.0,
                        open_files=100, open_rows_per_file=20,
                        drain_files=20, drain_rows_per_file=200,
                        gap_ms=6 * 3600 * 1000),
    "curation_small": dict(calls=CURATION_CALLS, gate="below"),
}
LAYERS = ["api", "store", "functions", "graph", "dedup", "sim"]
LAYER_METRICS = ["build_s", "action_s", "jobs", "tasks", "shuffle_write_mb", "spill_mb",
                 "gc_s", "driver_gap_s", "core_busy", "one_task_stage_s", "task_skew"]
STREAM_METRICS = ["batches", "batch_p50_ms", "source_ms", "commit_ms", "state_rows",
                  "state_mb", "backlog_files", "gen_lag_ms"]


T0 = time.monotonic()


def log(*a):
    print(f"[perfbench {time.monotonic() - T0:6.1f}s]", *a, file=sys.stderr, flush=True)


def host_noise():
    with open("/proc/stat") as f:
        cpu = f.readline().split()[1:]
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"time": time.time(), "steal_jiffies": int(cpu[7]),
            "total_jiffies": sum(int(x) for x in cpu), "loadavg": [float(x) for x in load]}


def driver_mem():
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def spark_home():
    """The Spark distribution whose jars graft compiles and runs against."""
    return os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
        os.path.realpath(shutil.which("spark-submit") or "spark-submit")))


def source_hash():
    """Digest of everything a run depends on: graft's sources and the
    benchmark's own code and data (harness, scripts, committed tables). It
    keys the build and every cache, so a change to any of them rebuilds and
    recomputes rather than reusing stale classes or oracle results."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), HERE):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if not x.startswith(".")
                             and x not in ("target", "work", "__pycache__"))
            for f in sorted(files):
                if f.endswith((".md", ".pyc")):
                    continue
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(key):
    stamp = os.path.join(HARNESS, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    log("building harness and graft sources with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HARNESS, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(os.path.join(CLASSES, "graftbench")):
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as f:
        f.write(key)


def java_cmd(*args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
            + [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{CLASSES}:{spark_home()}/jars/*", "graftbench.Harness", *args])


CHILDREN = []


def stop_children(*_):
    """Kill any harness JVM still running, then exit (SIGTERM handler)."""
    for p in CHILDREN:
        if p.poll() is None:
            p.kill()
            p.wait()
    raise SystemExit("perfbench: terminated")


def launch(args, deadline):
    """Start a harness JVM; return (process, seconds until it printed READY)."""
    t0 = time.monotonic()
    p = subprocess.Popen(java_cmd(*args), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, cwd=WORK)
    CHILDREN.append(p)
    for line in p.stdout:
        if line.strip() == "READY":
            ready = time.monotonic() - t0
            threading.Thread(target=p.stdout.read, daemon=True).start()
            return p, ready
        if time.monotonic() > deadline:
            break
    p.kill()
    p.wait()
    raise SystemExit("perfbench: harness did not start")


def finish(p, deadline):
    try:
        p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("perfbench: harness run exceeded its time limit")
    if p.returncode != 0:
        raise SystemExit(f"perfbench: harness exited with {p.returncode}")


def drop_stale(parent, prefix):
    """Remove the entries of `parent` whose names start with `prefix`."""
    for d in os.listdir(parent) if os.path.isdir(parent) else []:
        if d.startswith(prefix):
            subprocess.run(["rm", "-rf", os.path.join(parent, d)], check=True)


def oracle_sql(names, key):
    path = os.path.join(WORK, f"oracle_sql-{key}.json")
    if not os.path.exists(path):
        drop_stale(WORK, "oracle_sql-")
        all_names = sorted({n for w in WORKLOADS.values() for n, _ in w["calls"]})
        subprocess.run(java_cmd("oracle", path, *all_names), check=True, cwd=WORK,
                       stdout=sys.stderr, stderr=subprocess.DEVNULL)
    with open(path) as f:
        sql = json.load(f)
    return {n: sql[n] for n in names if n in sql}


def stage_stream(cfg, data, rng, out):
    """Pre-render the stream's event files (JSON lines) from the generated
    events table: `open_stage` for the open loop, `drain_stage` for the
    backlog. Returns the expected sink row counts (error events are
    rejected by the ingest channel)."""
    import pyarrow.parquet as pq
    ev = pq.read_table(os.path.join(data, "events.parquet")).to_pandas()
    ev = ev.sort_values("event_id").reset_index(drop=True)
    need = (cfg["open_files"] * cfg["open_rows_per_file"]
            + cfg["drain_files"] * cfg["drain_rows_per_file"])
    if len(ev) < need:
        raise SystemExit(f"perfbench: {len(ev)} events, stream needs {need}")
    ev = ev.iloc[rng.permutation(len(ev))[:need]].reset_index(drop=True)
    ev["ts_ms"] = ev["ts"].astype("int64") // 1000
    expect = {}
    pos = 0
    for phase in ("open", "drain"):
        d = os.path.join(out, f"{phase}_stage")
        os.makedirs(d)
        n, per = cfg[f"{phase}_files"], cfg[f"{phase}_rows_per_file"]
        part = ev.iloc[pos:pos + n * per]
        pos += n * per
        for i in range(n):
            chunk = part.iloc[i * per:(i + 1) * per]
            with open(os.path.join(d, f"f-{i:06d}.json"), "w") as f:
                for r in chunk.itertuples():
                    f.write(json.dumps({"event_id": int(r.event_id), "ts_ms": int(r.ts_ms),
                                        "user_id": int(r.user_id), "event_type": r.event_type,
                                        "value": float(r.value)}) + "\n")
        expect[f"{phase}_rows"] = n * per
        expect[f"{phase}_sink_rows"] = int((part["event_type"] != "error").sum())
    return expect


def canon(df):
    """tools/check.py's canonical form: columns by name, floats to 4
    places, datetimes and objects as strings, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].round(4)
        if "datetime" in str(df[c].dtype):
            df[c] = df[c].astype(str)
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def expected_frames(data, sqls, extra_sql):
    """Oracle results per call, cached beside the seed's data (whose
    directory is keyed on the source hash)."""
    import duckdb
    import pandas as pd
    cache = os.path.join(data, "expected")
    os.makedirs(cache, exist_ok=True)
    con = None
    out = {}
    for name, sql in {**sqls, **extra_sql}.items():
        path = os.path.join(cache, f"{name}.parquet")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 2")
                for t in json.load(open(os.path.join(data, "manifest.json")))["rows"]:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{data}/{t}.parquet/*.parquet')")
            con.execute(sql).df().to_parquet(path)
        out[name] = pd.read_parquet(path)
    return out


def compare(got_dir, exp):
    import pandas as pd
    if not os.path.isdir(got_dir):
        return "no output"
    got = pd.read_parquet(got_dir)
    if exp is None:
        return None if len(got) else "empty output"
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    return None if g.equals(e) else "values differ"


def quantile(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the root of a graft source checkout")
    noise = [host_noise()]
    os.makedirs(WORK, exist_ok=True)
    key = source_hash()
    build(key)
    deadline = time.monotonic() + FIXED_S + 2 * a.seconds

    import numpy as np
    sys.path.insert(0, HERE)
    import gen
    cfg = WORKLOADS[a.workload]
    cores = len(os.sched_getaffinity(0))
    data = os.path.join(WORK, "data", f"{a.workload}-{a.seed}-{key}")
    if not os.path.exists(os.path.join(data, "manifest.json")):
        # keep one seed's data (and its expected results) per workload
        drop_stale(os.path.dirname(data), a.workload + "-")
        gate = (GATE_EDGES, cfg["gate"]) if "gate" in cfg else None
        gen.generate(data, a.seed, gate=gate)
    manifest = json.load(open(os.path.join(data, "manifest.json")))
    rng = np.random.default_rng(a.seed + 1)

    run_dir = os.path.join(WORK, "run")
    subprocess.run(["rm", "-rf", run_dir], check=True)
    os.makedirs(run_dir)
    params = dict(workload=a.workload, data=data, work=run_dir, seconds=a.seconds,
                  trace=a.trace, cores=cores,
                  calls=[{"name": n, "layer": l} for n, l in cfg["calls"]])
    names = [n for n, _ in cfg["calls"]]
    extra_sql = {}
    if "mutations" in cfg:
        import pyarrow.parquet as pq
        ev = pq.read_table(os.path.join(data, "events.parquet"),
                           columns=["event_id", "value"]).to_pandas()
        kept = ev[ev["value"] >= 1.0]["event_id"].sort_values().to_numpy()
        mutated = rng.choice(kept, cfg["mutations"], replace=False)
        params["mutate_ids"] = [str(int(x)) for x in mutated]
        extra_sql["store.search"] = (
            "SELECT CAST(event_id AS VARCHAR) AS uuid FROM events WHERE value >= 1.0 "
            "AND event_type = 'click' AND ts >= TIMESTAMP '2024-01-05 00:00:00' "
            "AND ts <= TIMESTAMP '2024-01-20 00:00:00' "
            "ORDER BY ts, CAST(event_id AS VARCHAR) LIMIT 50")
        # every message kept by the channel, the mutated ones now in error,
        # plus the 20 signups the harness replays (saved back as processed)
        extra_sql["store.states"] = (
            f"SELECT * FROM (VALUES ('processed', {len(kept) - len(mutated) + 20}::BIGINT), "
            f"('error', {len(mutated)}::BIGINT)) t(state, count)")
    stream_expect = None
    if "rate" in cfg:
        stage = os.path.join(run_dir, "stage")
        stream_expect = stage_stream(cfg, data, rng, stage)
        params["stream"] = dict(open_stage=os.path.join(stage, "open_stage"),
                                drain_stage=os.path.join(stage, "drain_stage"),
                                rate=cfg["rate"], gap_ms=cfg["gap_ms"])
    with open(os.path.join(run_dir, "params.json"), "w") as f:
        json.dump(params, f)
    log("inputs ready")
    sqls = oracle_sql(names, key)
    expected = expected_frames(data, sqls, extra_sql)

    log("oracle ready")
    setups = []
    for _ in range(SETUP_PROBES):
        p, s = launch(["setup", run_dir], deadline)
        setups.append(s)
        finish(p, deadline)
    log("setup probes", setups)
    p, s = launch(["run", os.path.join(run_dir, "params.json")], deadline)
    setups.append(s)
    finish(p, deadline)
    log("harness done")
    noise.append(host_noise())
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)

    # ---- output check ----
    attempted = res["attempted"]
    failed = res["failed"]
    problems = dict(res["errors"])
    for n in [n for n in names if not n.startswith(("store.", "stream."))] + list(extra_sql):
        attempted += 1
        why = problems.get(n) or compare(os.path.join(run_dir, "check", n), expected.get(n))
        if why:
            failed += 1
            problems.setdefault(n, why)
    if stream_expect is not None:
        x = res["extra"]
        want = [("open_sink_rows", x.get("open_sink_rows"), stream_expect["open_sink_rows"]),
                ("open_files_committed", x.get("open_files_committed"), cfg["open_files"])]
        sessions = x.get("session_counts", [])
        want.append(("session_counts", bool(sessions) and len(set(sessions)) == 1
                     and sessions[0] > 0, True))
        for what, got, exp in want:
            attempted += 1
            if got != exp:
                failed += 1
                problems[what] = f"got {got}, want {exp}"
    if "harness" in problems:
        failed += 1
    if problems:
        log("failures:", json.dumps(problems)[:2000])

    passes = res["passes"]
    # pass 0 is the cold pass and pass 1 the warm-up; later passes are measured
    untraced = [ps for ps in passes[2:] if not ps["traced"]]
    def pass_s(ps):
        return sum(c["build_ms"] + c["action_ms"] for c in ps["calls"]) / 1000.0
    if a.trace == 0:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "first_pass_s": (pass_s(passes[0]), "s"),
            "pass_s": (statistics.median(pass_s(ps) for ps in untraced), "s"),
        }
    else:
        layers = res["layers"]
        metrics = {}
        for l in LAYERS:
            for m in LAYER_METRICS:
                metrics[f"{l}.{m}"] = (layers.get(l, {}).get(m, 0.0),
                                       "s" if m.endswith("_s") else
                                       "MB" if m.endswith("_mb") else
                                       "ratio" if m in ("core_busy", "task_skew") else "count")
        for l in ("dedup", "sim"):
            metrics[f"{l}.pair_yield"] = (layers.get(l, {}).get("pair_yield", 0.0), "ratio")
        x = res["extra"]
        lat = x.get("open_latency_ms") or [0.0]
        metrics["streaming.latency_p50_ms"] = (statistics.median(lat), "ms")
        metrics["streaming.latency_p90_ms"] = (quantile(lat, 0.9), "ms")
        for m in STREAM_METRICS:
            metrics[f"streaming.{m}"] = (x.get(f"streaming.{m}", 0.0),
                                         "ms" if m.endswith("_ms") else
                                         "MB" if m.endswith("_mb") else "count")
        drain = [sum(c["build_ms"] + c["action_ms"] for c in ps["calls"]
                     if c["call"].startswith("stream.")) / 1000.0 for ps in untraced]
        rows = cfg.get("drain_files", 0) * cfg.get("drain_rows_per_file", 0)
        metrics["streaming.drain_rows_per_s"] = (
            rows / statistics.median(drain) if rows and drain else 0.0, "1/s")
        metrics["jvm.peak_rss_mb"] = (res["vm_hwm_kb"] / 1024.0, "MB")
        metrics["trace.overhead_s"] = (layers.get("trace", {}).get("overhead_s", 0.0), "s")
    noise_rec = {"start": noise[0], "end": noise[1], "setup_samples_s": setups,
                 "manifest": manifest, "problems": problems}
    with open(os.path.join(WORK, "last_run.json"), "w") as f:
        json.dump(noise_rec, f)
    log("host noise:", json.dumps({"start": noise[0], "end": noise[1]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
