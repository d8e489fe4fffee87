#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness
(perfbench/harness) from source on first use, generates the seeded inputs,
runs one workload in a fresh JVM at local[nproc]: three set-ups, then the
flow, its calls once each, cold, as a nightly run in a fresh JVM runs them.
It checks every output and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. The flow is measured whole,
however long it takes (about 30 s on either workload on a 4-core host);
--seconds is accepted for the interface and does not change the work.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the per-layer table goes to stderr.

Everything it writes stays under .bench_build/ (or $CARGO_TARGET_DIR) in
the checkout; see perfbench/README.md for the metric definitions.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # nothing but .bench_build/ is written

# Each workload: its calls, registry names except the sync drain, which the
# harness runs itself.
WORKLOADS = {
    "nightly_sync": {
        "nights": 10,
        "calls": [
            "scheduledSyncOnce",                          # streaming: the sync drain
            "recon_summary", "ivm_touched_minmax",        # sync
            "f12_priority_scores",                        # expr
            "a1_job_stats", "a3_top_errors",              # metrics
            "t12_ewma_daily", "layout_zorder_stats",      # operators
            "dq_constraints", "dq_column_profile",        # plans
            "u2_chunk_text", "u1_enrichment", "p5_metadata",  # pipeline
        ]},
    "corpus_build": {
        "calls": [
            "e2e_training_corpus",                            # pipeline
            "dedup_ngram_clusters",                           # ml.dedup
            "sim_topk_pq",                                    # ml.similarity
            "curation_source_overlap",                        # ml.curation
            "text_bm25_topk",                                 # ml.text
            "graph_pagerank",                                 # operators.graph
            "sim_hybrid_rrf",                                 # ml.rag: hybrid retrieval
        ]},
}
SYNC_CALL = "scheduledSyncOnce"
# One scale for every workload: sf0.02 (~120k lineitems, 1000 documents).
SF = 0.02

END_TO_END = [("setup_s", "s"), ("flow_s", "s"), ("call_gmean_s", "s"), ("setup_heap_mb", "MB")]
LAYERS = ["sync", "expr", "metrics", "operators", "operators.graph", "plans",
          "pipeline", "ml.dedup", "ml.similarity", "ml.text", "ml.curation",
          "ml.rag", "streaming"]
MEASURES = [("construct_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
            ("jobs", "count"), ("task_cpu_s", "s"), ("slot_idle_frac", "fraction"),
            ("shuffle_write_mb", "MB"), ("rows_read", "rows"), ("rows_out", "rows")]
EXTRAS = [("streaming.queue_wait_s", "s"), ("streaming.state_rows", "rows"), ("jvm.gc_s", "s")]

JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def cores():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """The test runs' SPARK_DRIVER_MEM sizing: half of MemTotal, 2g..8g."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def other_jvms():
    out = []
    for p in glob.glob("/proc/[0-9]*/comm"):
        try:
            with open(p) as f:
                if f.read().strip() == "java":
                    out.append(p.split("/")[2])
        except OSError:
            pass
    return out


def refuse_if_busy(wait_s=30):
    """Another JVM would contend for the cores: wait briefly, then refuse."""
    deadline = time.time() + wait_s
    while other_jvms():
        if time.time() > deadline:
            fail(f"refusing to start: another JVM is running (pids {other_jvms()})", 3)
        time.sleep(1)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")):
        for dp, dns, fns in os.walk(base):
            dns[:] = sorted(d for d in dns if d not in ("target", "project"))
            files += [os.path.join(dp, f) for f in sorted(fns)]
    files.append(os.path.join(HERE, "harness", "project", "build.properties"))
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    h.update(driver_mem().encode())
    return h.hexdigest()


def build(bdir):
    """Compile the engine and the harness with sbt (offline), once per source
    state; returns (jvm options, classpath) from the harness build."""
    os.makedirs(bdir, exist_ok=True)
    stamp_path = os.path.join(bdir, "build.stamp")
    launch = os.path.join(bdir, "launch.txt")
    stamp = source_stamp()
    if not (os.path.exists(launch) and os.path.exists(stamp_path)
            and open(stamp_path).read() == stamp):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repo_cfg = os.path.expanduser("~/.sbt/repositories")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx4g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repo_cfg}"
            if os.path.exists(repo_cfg) else ""))
        env["SPARK_DRIVER_MEM"] = driver_mem()
        log("building engine + harness (sbt, offline)")
        t0 = time.time()
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "launchSpec"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=sys.stderr,
            stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            fail(f"build failed (sbt exit {r.returncode})")
        shutil.copy(os.path.join(HERE, "harness", "target", "launch.txt"), launch)
        with open(stamp_path, "w") as f:
            f.write(stamp)
        log(f"build done in {time.time() - t0:.1f} s")
    opts, cp = [], []
    for line in open(launch).read().splitlines():
        kind, _, val = line.partition(" ")
        (opts if kind == "opt" else cp).append(val)
    return opts, cp


def make_inputs(bdir, wl, seed):
    """Seeded tables (cached per scale and seed) plus the sync backlog."""
    import gen
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(bdir, "data", f"sf{SF}-seed{seed}-{version}")
    if not os.path.exists(os.path.join(data, "_meta.json")):
        for old in glob.glob(os.path.join(bdir, "data", "*")):
            shutil.rmtree(old, ignore_errors=True)
        meta = gen.write_tables(gen.relabel(gen.base_tables(SF), seed), data + ".tmp")
        with open(os.path.join(data + ".tmp", "_meta.json"), "w") as f:
            json.dump(meta, f)
        os.rename(data + ".tmp", data)
    extra = []
    if "nights" in wl:
        import pyarrow.parquet as pq
        path = os.path.join(bdir, "sync_backlog.parquet")
        pq.write_table(gen.sync_backlog(seed, wl["nights"]), path)
        extra = ["--backlog", path]
    return data, extra


def run_jvm(bdir, opts, cp, args, timeout_s):
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(bdir, "spark-local")
    # no hsperfdata file in the system temp directory
    cmd = (["java"] + opts + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                              f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
                              "-cp", ":".join(cp), "perfbench.Harness"] + args)
    p = subprocess.Popen(cmd, cwd=bdir, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"harness JVM exceeded {timeout_s} s")
    if rc != 0:
        fail(f"harness JVM exited {rc}")


# ------------------------------------------------------------------ checks
# A call's output is compared with its DuckDB oracle the way the engine's
# own gate (tools/check.py) compares them: column names sorted, rows
# sorted, values normalised.

def check_calls(bdir, data, work, names):
    """Per call: True when its output matches the oracle."""
    import duckdb
    import pyarrow.parquet as pq
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import TABLES, canon
    oracles = json.load(open(os.path.join(work, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(bdir, 'tmp', 'duckdb')}'")
    con.execute("SET memory_limit='3GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    ok = {}
    for n in names:
        out = os.path.join(work, "out", n)
        if n not in oracles or not os.path.isdir(out):
            log(f"check {n}: {'no oracle' if n not in oracles else 'no output'}")
            ok[n] = False
            continue
        try:
            got = canon(pq.read_table(out).to_pandas())
            want = canon(con.execute(oracles[n]).df())
            ok[n] = got == want
            if not ok[n]:
                log(f"check {n}: FAIL spark {got[0]} rows={len(got[1])} "
                    f"oracle {want[0]} rows={len(want[1])}")
        except Exception as e:  # a failed oracle or unreadable output fails the call
            log(f"check {n}: FAIL {e}")
            ok[n] = False
    return ok


# ---------------------------------------------------------------- reports

def self_times(work):
    """Per layer, traced call time not covered by the call's own jobs."""
    calls, jobs = [], {}
    for line in open(os.path.join(work, "spans.jsonl")):
        if not line.strip():
            continue
        s = json.loads(line)
        if s["kind"] == "call" and s["traced"]:
            calls.append(s)
        elif s["kind"] == "job":
            jobs.setdefault(s["group"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for c in calls:
        wall = (c["construct_s"] + c["plan_s"] + c["exec_s"]) * 1000
        lo, hi = c["start_ms"], c["start_ms"] + wall
        covered, cur = 0.0, lo
        for a, b in sorted(j for g in c["groups"] for j in jobs.get(g, [])):
            a, b = max(a, cur), min(b, hi)
            if b > a:
                covered += b - a
                cur = b
        out[c["layer"]] = out.get(c["layer"], 0.0) + (wall - covered) / 1000
    return out


def untraced_flow_s(bdir, workload, build_id, n_cores):
    """Median flow_s of the untraced runs recorded here with the same
    build, calls and core count."""
    vals = []
    if os.path.exists(os.path.join(bdir, "results.jsonl")):
        for line in open(os.path.join(bdir, "results.jsonl")):
            r = json.loads(line)
            if (r.get("build") == build_id and r.get("calls") == WORKLOADS[workload]["calls"]
                    and r["trace"] == 0 and r["env"]["cores"] == n_cores):
                vals.append(r["metrics"]["flow_s"]["value"])
    return sorted(vals)[len(vals) // 2] if vals else None


def layer_report(res, work, base_flow_s):
    table, extras = res["layers"]["table"], res["layers"]["extras"]
    selfs = self_times(work)
    log(f"{'layer':<16}{'constr_s':>9}{'plan_s':>8}{'exec_s':>8}{'self_s':>8}{'jobs':>7}"
        f"{'cpu_s':>8}{'idle':>6}{'base_s':>8}{'shufMB':>8}{'rows_rd':>11}{'rows_out':>10}")
    for layer in LAYERS:
        if layer not in table:
            continue
        t = table[layer]
        log(f"{layer:<16}{t['construct_s']:>9.3f}{t['plan_s']:>8.3f}{t['exec_s']:>8.3f}"
            f"{selfs.get(layer, 0.0):>8.3f}{t['jobs']:>7.1f}{t['task_cpu_s']:>8.2f}"
            f"{t['slot_idle_frac']:>6.2f}{t['slot_base_s']:>8.2f}{t['shuffle_write_mb']:>8.2f}"
            f"{t['rows_read']:>11.0f}{t['rows_out']:>10.0f}")
        if t.get("job_ends_missing"):
            log(f"  {layer}: {t['job_ends_missing']} job ends not seen")
    if base_flow_s is None:
        log("tracing overhead: no untraced run of this workload on this build recorded yet")
    else:
        log(f"tracing overhead (traced flow - median untraced flow on this build): "
            f"{res['flow_s'] - base_flow_s:+.3f} s")
    metrics = {}
    for layer in LAYERS:
        for m, unit in MEASURES:
            metrics[f"{layer}.{m}"] = {"value": float(table.get(layer, {}).get(m, 0.0)), "unit": unit}
    for name, unit in EXTRAS:
        metrics[name] = {"value": float(extras.get(name, 0.0)), "unit": unit}
    return metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=0, help="local[N]; default nproc")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources not found next to perfbench/ (build.sbt, src/main/scala/graft)")
    wl = WORKLOADS[a.workload]
    n_cores = a.cores or cores()
    bdir = build_dir()
    refuse_if_busy()
    opts, cp = build(bdir)
    build_id = open(os.path.join(bdir, "build.stamp")).read()[:16]
    refuse_if_busy()
    data, extra = make_inputs(bdir, wl, a.seed)
    work = os.path.join(bdir, "runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    args = ["--data", data, "--work", work, "--trace", str(a.trace),
            "--cores", str(n_cores), "--calls", ",".join(wl["calls"])] + extra
    t0 = time.time()
    # a reduced-core reference run (--cores) may take several times longer
    run_jvm(bdir, opts, cp, args, JVM_TIMEOUT_S if not a.cores else 6 * JVM_TIMEOUT_S)
    log(f"harness JVM ran {time.time() - t0:.1f} s")
    out = json.load(open(os.path.join(work, "result.json")))
    res = out["result"]

    # the sync drain is checked inside the JVM (watermarks, change log)
    t1 = time.time()
    ok = check_calls(bdir, data, work, [n for n in wl["calls"] if n != SYNC_CALL])
    if SYNC_CALL in wl["calls"]:
        ok[SYNC_CALL] = True
    attempted = res["attempted"]
    failed = sum(1 if not ok[n] else res["call_fail"][n] for n in wl["calls"])
    log(f"checks: {sum(ok.values())}/{len(ok)} calls match their oracle "
        f"(outputs written in {res['output_write_s']:.1f} s, oracles {time.time() - t1:.1f} s)")
    log(f"flow of {len(wl['calls'])} calls: {res['flow_s']:.2f} s wall, "
        f"{res['flow_cpu_s']:.2f} s process CPU, {res['steal_s']:.2f} s host steal "
        f"(all CPUs), GC {res['gc_s']:.2f} s; call spans cover {res['span_coverage']:.3f} of it")
    log("calls: " + ", ".join(f"{n} {res['call_s'][n]:.2f} s" for n in wl["calls"]))
    env = out["env"]
    log(f"host: nproc={env['nproc']} local[{env['cores']}] MemTotal={env['mem_total_kb']} kB "
        f"kernel={env['kernel']} jdk={env['jdk']} spark={env['spark']} heap={env['max_heap_mb']} MB")
    log(f"setup runs {out['setup_runs']}; peak RSS {out['peak_rss_mb']:.0f} MB")

    if a.trace:
        metrics = layer_report(res, work, untraced_flow_s(bdir, a.workload, build_id, n_cores))
        metrics["jvm.gc_s"] = {"value": res["gc_s"], "unit": "s"}
    else:
        vals = {"setup_s": out["setup_s"], "flow_s": res["flow_s"],
                "call_gmean_s": res["call_gmean_s"], "setup_heap_mb": out["setup_heap_mb"]}
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}
    missing = [k for k, v in metrics.items()
               if not isinstance(v["value"], (int, float)) or math.isnan(v["value"])]
    if missing:
        fail(f"no value measured for {missing}")
    correct = failed == 0
    record = {"build": build_id, "calls": wl["calls"], "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "env": env, "setup_runs": out["setup_runs"],
              "detail": {k: v for k, v in res.items() if k != "layers"},
              "correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    with open(os.path.join(bdir, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"correct": correct, "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
