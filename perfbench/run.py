"""One benchmark run of the dataframe-SQL library.

    python3 perfbench/run.py --workload sql-adhoc --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the library and the benchmark's Scala
side (`build.py`), generates the workload's inputs from the seed (`gen.py`),
computes the DuckDB reference results (`oracle.py`), runs one JVM that
drives the library (`src/perfbench/Main.scala`), checks every output, and
prints a short report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics; `--trace 1` runs with spans
around every library call and reports the per-layer metrics instead.
Workloads are described in `perfbench/README.md`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

CORES = 4
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]

# sql-adhoc runs a fixed subset of the Relational defs in a seeded order with
# seeded chained picks, so every run does the same work: the defs at three
# evenly spaced positions of each family. h2_min_cost_supplier is left out:
# Spark and DuckDB round a double that lies one ulp below a tie differently
# (Spark round(916.6022499999999, 4) = 916.6022, DuckDB 916.6023), so its
# oracle check fails on about one seed in three.
ADHOC_DEFS = [
    "a1_avg", "a7_groupby_bare", "a15_rollup", "e1_hourly_agg",
    "e3_json_extract", "e7_funnel", "f1_compare", "f3_between", "f6_like",
    "h1_pricing_summary", "h12_priority_shipping", "h16_parts_supplier_count",
    "j1_inner", "j5_cross", "j9_case_insensitive", "o1_order_multi",
    "o2_limit", "o3_topk", "p1_select_star", "p5_arith", "p9_now",
    "q1_derived", "q3_cte", "q5_in_subquery", "u1_union", "u3_intersect",
    "u5_except", "w1_rank", "w3_dense_rank", "w8_analytic_windows"]
# The session is warmed with three defs outside the subset.
ADHOC_WARMUP = ["f4_in", "a8_groupby_agg", "w4_rank_partition"]
# Three seeded passes over the subset per 10 s: each query runs once cold and
# twice more later, as a re-issued ad-hoc query would; the longer timed phase
# averages out short swings in machine speed.
ADHOC_OPS_PER_SECOND = 9
# The curation pass: dedup, similarity, text, multimodal and composition
# stages, each with a DuckDB oracle or a known row count.
CURATION = ["t19_bpe_encode", "t7_rolling_fingerprint", "d12_dedup_fp_index",
            "s3_ann_ivf", "m3_decode_features", "x1_curation_pipeline"]
# Defs without an oracle are checked for their row count.
ROW_COUNT_SQL = {"t7_rolling_fingerprint": "select count(*) from documents"}

WORKLOADS = {
    "sql-adhoc": {"sf": 0.01, "tables": ALL_TABLES},
    "curation-batch": {"sf": 0.1, "tables": ["documents", "embeddings"]},
    "index-ingest": {"sf": 0.1, "tables": ["documents", "embeddings"]},
}
INGEST = {"cycles_per_second": 0.3, "batch_docs": 80, "echo_share": 0.2,
          "batch_vecs": 55, "takedown": 5, "probes": 2, "probe_rows": 10,
          "compact_every": 2, "k": 10, "nprobe": 4}


def percentile(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def box_state():
    load = os.getloadavg()[0]
    jvms = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    jvms += f.read().strip() == "java"
            except OSError:
                pass
    return {"nproc": os.cpu_count(), "loadavg_1m": load, "java_procs": jvms,
            "ticks": cpu_ticks()}


def load_json(path, default):
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


def save_json(path, value):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(value, f)


def expected_results(workload, names, data, seed, sf, defs):
    """DuckDB reference of each named def, computed once per (workload,
    seed, scale, generator, oracle SQL) and kept in `.bench_cache/oracle/`."""
    key = hashlib.sha1(json.dumps(defs["oracle"], sort_keys=True).encode())
    with open(gen.__file__, "rb") as f:
        key.update(f.read())
    path = os.path.join(".bench_cache", "oracle",
                        f"{workload}-{seed}-{sf}-{key.hexdigest()[:12]}.json")
    res = load_json(path, {})
    missing = sorted(set(names) - set(res))
    if missing:
        con = oracle.connect(data)
        for n in missing:
            if n in defs["oracle"]:
                res[n] = oracle.hash_sql(con, defs["oracle"][n])
            else:
                res[n] = {"rows": con.execute(ROW_COUNT_SQL[n]).fetchone()[0]}
        save_json(path, res)
    return res


def run_jvm(cfg, work):
    cfg_path = os.path.join(work, "config.json")
    log_path = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Temp files (native-library extraction, JVM perf data) stay in the
    # run's work directory.
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx4g", "-Xss8m", "-Duser.timezone=UTC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", build.classpath(), "perfbench.Main", "run", cfg_path])
    cfg["launch_ms"] = int(time.time() * 1000)
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"benchmark JVM failed ({rc}):\n{tail}")
    with open(cfg["out"]) as f:
        return json.load(f)


def check_queries(res, expect, plant_bad_hash):
    """Per-op verdicts against the DuckDB reference (chained ops against
    their source def's reference)."""
    if plant_bad_hash:
        victim = next(o["def"] for o in res["ops"] if "hash" in expect.get(o["def"], {}))
        expect = dict(expect)
        expect[victim] = dict(expect[victim], hash="0" * 40)
    bad = []
    for o in res["ops"]:
        exp = expect[o["def"]]
        if "error" in o:
            bad.append((o["def"], o["error"]))
        elif "hash" in exp and o["hash"] != exp["hash"]:
            bad.append((o["def"], f"hash {o['hash'][:10]} != {exp['hash'][:10]} "
                                  f"(rows {o['rows']} vs {exp['rows']})"))
        elif o["rows"] != exp["rows"]:
            bad.append((o["def"], f"rows {o['rows']} != {exp['rows']}"))
    return bad


def check_ingest(res, plan, data, plant_bad_hash):
    ing = res["ingest"]
    n = ing["cycles"]
    bad = [(f"{o['kind']}#{o['cycle']}", o["error"]) for o in res["ops"] if "error" in o]
    con = oracle.connect(data)
    batch_files = [os.path.join(b["dir"], "docs.parquet") for b in plan["batches"][:n]]
    # Batch order decides first-arrival-wins across batches.
    con.execute("create table arrivals as " + " union all ".join(
        f"select doc_id, text, {i} as b from '{p}'" for i, p in enumerate(batch_files)))
    kept = oracle.ingest_kept(con, "arrivals",
                              os.path.join(data, "boot_docs.parquet"))
    if plant_bad_hash:
        kept = kept[1:]
    if kept != ing["kept_ids"]:
        bad.append(("kept_ids", f"{len(ing['kept_ids'])} kept vs {len(kept)} expected"))
    deleted = set()
    by_cycle = {}
    for p in ing["probes"]:
        by_cycle.setdefault(p["cycle"], []).append(p)
    for c in range(n):
        tk = os.path.join(plan["batches"][c]["dir"], "takedown.parquet")
        deleted |= {r[0] for r in con.execute(f"select vec_id from '{tk}'").fetchall()}
        for p in by_cycle.get(c, []):
            hits = deleted.intersection(p["cids"])
            if hits:
                bad.append((f"probe#{c}.{p['probe']}", f"deleted ids returned: {sorted(hits)[:5]}"))
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, help="override the workload's scale factor")
    ap.add_argument("--max-ops", type=int, help="cap the ops of the timed phase")
    ap.add_argument("--plant-bad-hash", action="store_true",
                    help="corrupt one expected result (self-test of the check)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join("src", "main", "scala")):
        sys.exit("run.py: no library sources under src/main/scala; "
                 "run from the repository root")
    build.build()
    with open(build.DEFS) as f:
        defs = json.load(f)

    wl = WORKLOADS[args.workload]
    sf = args.scale if args.scale is not None else wl["sf"]
    work = os.path.abspath(os.path.join(
        ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        gen.tables(data, sf, args.seed, wl["tables"])
        cfg = {"workload": args.workload,
               "trace": bool(args.trace), "data": data, "work": work,
               "out": os.path.join(work, "result.json")}
        plan = None
        if args.workload == "sql-adhoc":
            n_ops = args.max_ops or max(1, round(ADHOC_OPS_PER_SECOND * args.seconds))
            ops = gen.adhoc_plan(args.seed, ADHOC_DEFS, n_ops)
            cfg["ops"], cfg["warmup"] = ops, ADHOC_WARMUP
        elif args.workload == "curation-batch":
            cfg["ops"] = CURATION[:args.max_ops] if args.max_ops else CURATION
        else:
            p = INGEST
            # A 10 s run: normal, maintenance, normal micro-batch. At least
            # one of each.
            cycles = args.max_ops or round(p["cycles_per_second"] * args.seconds)
            cycles = max(p["compact_every"], cycles)
            plan = gen.ingest_plan(data, args.seed, sf, cycles, p["batch_docs"],
                                   p["echo_share"], p["batch_vecs"], p["takedown"],
                                   p["probes"], p["probe_rows"])
            cfg["ingest"] = {"batches": [b["dir"] for b in plan["batches"]],
                             "compact_every": p["compact_every"], "k": p["k"],
                             "nprobe": p["nprobe"]}
        if args.trace:
            kdir = os.path.join(work, "kernel_data")
            gen.tables(kdir, 0.1, args.seed, ["documents", "embeddings"])
            cfg["kernel_data"] = kdir
        box = box_state()
        res = run_jvm(cfg, work)
        box["end"] = box_state()

        if args.workload == "index-ingest":
            bad = check_ingest(res, plan, data, args.plant_bad_hash)
            attempted = len(res["ops"]) + 1
        else:
            expect = expected_results(args.workload, [o["def"] for o in res["ops"]],
                                      data, args.seed, sf, defs)
            bad = check_queries(res, expect, args.plant_bad_hash)
            attempted = len(res["ops"])
        report(args, sf, box, res, plan, bad, attempted)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def end_to_end(args, res, plan):
    ops = res["ops"]
    m = {"setup_s": res["setup_s"],
         "retained_mb": res["retained_mb"]}
    extra = {}
    if args.workload == "index-ingest":
        ing = res["ingest"]
        ms = {k: [o["ms"] for o in ops if o["kind"] == k]
              for k in ("ingest", "maint", "probe")}
        batches = ms["ingest"] + ms["maint"]
        n = ing["cycles"]
        done = plan["batches"][:n]
        rows = n * (INGEST["batch_docs"] + INGEST["batch_vecs"] + INGEST["takedown"])
        arriving = sum(b["doc_bytes"] + b["vec_bytes"] + b["takedown_bytes"] for b in done)
        live = (plan["boot_doc_bytes"] + sum(b["doc_bytes"] for b in done) +
                plan["boot_vec_bytes"] + sum(b["vec_bytes"] for b in done) -
                sum(b["takedown_bytes"] // 8 * (gen.DIM * 4 + 8) for b in done))
        busy_s = sum(o["ms"] for o in ops) / 1000
        m.update({"op_p50_ms": percentile(ms["ingest"], 0.5),
                  "op_p90_ms": percentile(batches, 0.9),
                  "ops_per_s": len(batches) / busy_s})
        extra = {"ingest_p50_ms": percentile(ms["ingest"], 0.5),
                 "maint_p50_ms": percentile(ms["maint"], 0.5),
                 "probe_p50_ms": percentile(ms["probe"], 0.5),
                 "ingest_rows_per_s": rows / busy_s,
                 "write_amp": (ing["index_bytes_written"] + ing["sink_bytes_written"]) / arriving,
                 "space_amp": ing["disk_bytes"] / live}
    else:
        ms = [o["ms"] for o in ops]
        m.update({"op_p50_ms": percentile(ms, 0.5),
                  "op_p90_ms": percentile(ms, 0.9),
                  "ops_per_s": len(ms) / (sum(ms) / 1000)})
    return m, extra


# The end-to-end metrics of the JSON line (BENCHMARK.json); the others are
# report lines only.
GATED = ["op_p50_ms", "ops_per_s", "setup_s", "retained_mb"]
UNITS = {"op_p50_ms": "ms", "op_p90_ms": "ms", "ops_per_s": "1/s",
         "setup_s": "s", "retained_mb": "MB", "ingest_p50_ms": "ms",
         "maint_p50_ms": "ms", "probe_p50_ms": "ms",
         "ingest_rows_per_s": "rows/s", "write_amp": "ratio",
         "space_amp": "ratio", "failed_frac": "ratio"}


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_amp", "core_util", "failed_frac")):
        return "ratio"
    return "count"


def report(args, sf, box, res, plan, bad, attempted):
    m, extra = end_to_end(args, res, plan)
    failed = len(bad)
    say = print
    say(f"# perfbench {args.workload} seed={args.seed} sf={sf} trace={args.trace} "
        f"loop=closed clients=1 cores=local[{CORES}]")
    end = box["end"]
    steal = end["ticks"][0] - box["ticks"][0]
    total = max(1, end["ticks"][1] - box["ticks"][1])
    say(f"# box: nproc={box['nproc']} loadavg_1m={box['loadavg_1m']:.2f} "
        f"(at end {end['loadavg_1m']:.2f}) java_procs={box['java_procs']} "
        f"(at end {end['java_procs']}) cpu_steal={100 * steal / total:.1f}%")
    say(f"# ops: {attempted} attempted, {failed} failed "
        f"(failed_frac={failed / attempted:.4f})")
    for name, why in bad[:10]:
        say(f"# FAILED {name}: {why}")
    kinds = {}
    for o in res["ops"]:
        kinds[o.get("kind", "query")] = kinds.get(o.get("kind", "query"), 0) + 1
    say(f"# samples: {kinds} in {res['timed_s']:.2f} s timed")
    for k, v in list(m.items()) + list(extra.items()):
        say(f"# {k} = {v:.4f} {UNITS[k]}")
    # Untraced op_p50_ms of earlier runs of this build, for the tracing
    # overhead.
    stats_path = os.path.join(".bench_cache",
                              f"untraced-{args.workload}-{sf}-{build.stamp()[:12]}.json")
    if not args.trace:
        metrics = {k: {"value": m[k], "unit": UNITS[k]} for k in GATED}
        hist = load_json(stats_path, [])
        save_json(stats_path, (hist + [[args.seed, m["op_p50_ms"]]])[-20:])
    else:
        layers = dict(res["layers"])
        layers.update(res["kernels"])
        ing = res.get("ingest", {})
        layers["sink.bytes_written"] = ing.get("sink_bytes_written", 0)
        layers["index.bytes_written"] = ing.get("index_bytes_written", 0)
        layers["index.files"] = ing.get("index_files", 0)
        for k in ("maint_p50_ms", "probe_p50_ms", "ingest_rows_per_s",
                  "write_amp", "space_amp"):
            layers["ingest." + k] = extra.get(k, 0.0)
        layers["check.failed_frac"] = failed / attempted
        layers["trace.op_p50_ms"] = m["op_p50_ms"]
        for row in res["span_table"]:
            say(f"# span {row[0]:<22} calls={row[1]:<5} self_ms={row[2]:10.1f} jobs={row[3]}")
        for k in sorted(layers):
            say(f"# layer {k} = {layers[k]:.4f} {layer_unit(k)}")
        hist = load_json(stats_path, [])
        same = [p50 for seed, p50 in hist if seed == args.seed]
        base = same or [p50 for _, p50 in hist]
        if base:
            b = statistics.median(base)
            say(f"# tracing overhead: traced op_p50_ms {m['op_p50_ms']:.1f} vs untraced "
                f"{b:.1f} ({'same seed' if same else f'median of {len(base)} runs'}): "
                f"{100 * (m['op_p50_ms'] / b - 1):+.1f}%")
        else:
            say("# tracing overhead: no untraced run of this workload in this checkout yet")
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
