#!/usr/bin/env python3
"""The benchmark of record: one seeded, closed-loop, single-client
workload against the program, on local[<cores>].

    python3 perfbench/run.py --workload star_queries --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds the program and the
harness (perfbench/build.sbt) with sbt; later runs reuse the build while
the sources are unchanged. Inputs come from `gen.py` with the seed; every
op's output is checked outside its latency. The last stdout line is one
JSON object: correct, attempted, failed and the metrics, end-to-end
ones with `--trace 0` and per-layer ones with `--trace 1`. Lines before
it print every metric by name with its unit.

Work files live under `.bench_build/` and are removed at exit, except
the traced run's raw records in `.bench_build/traces/<workload>/`.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen      # noqa: E402
import metrics as M  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CDS = os.path.join(BUILD, "classes.jsa")
# A run must end within 180 s. curation_ingest is not in BENCHMARK.json and
# its traced run (two harness runs) takes ~4 min, so it gets longer.
DEADLINE_S = {"curation_ingest": 600}
DEFAULT_DEADLINE_S = 170

# set-up repetitions (median reported), warm-up ops, ops per group and
# the seconds one group takes on 4 cores. Star queries keep getting faster
# over the first passes as the JIT compiles the engine, so two passes warm
# up. One ETL initial load (~30 s) is all a run's budget holds, so ETL
# sets up once and times the next batch. Curation times one compaction
# cycle (epochs 1-3, compacting at 3); it runs outside the budget.
POOL = len(gen.QUERY_POOL)
WORKLOADS = {
    "star_queries": {"reps": 3, "warmup": 2 * POOL, "group": POOL, "group_s": 8},
    "etl_incremental": {"reps": 1, "warmup": 0, "group": 1, "group_s": 15},
    "curation_ingest": {"reps": 1, "warmup": 1, "group": 3, "group_s": 60},
}


def timed_ops(workload, seconds):
    """Ops in the timed window: the whole groups that fill `seconds` at the
    nominal group time, at least one. Fixed from the arguments, so a faster
    program times the same ops, not more of them."""
    cfg = WORKLOADS[workload]
    return cfg["group"] * max(1, round(seconds / cfg["group_s"]))

# Gated end-to-end metrics. Wall-time latency and throughput are printed
# too, but host CPU steal on a shared machine spreads them past any
# allowed bound, while process CPU time per op repeats (README.md).
END_TO_END = [("setup_s", "s"), ("op_cpu_ms", "ms"), ("heap_live_mb", "MB")]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------- build
def _sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    return [f for f in files if os.path.isfile(f)]


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: the program's sources (src/main/scala) are missing")
    h = hashlib.sha1()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building the program and the harness with sbt")
    os.makedirs(BUILD, exist_ok=True)
    # offline resolution, as the repository's own test command sets it
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx4g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = jar_classpath(lines[-1].strip())
    dump_class_archive(cp)
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return cp


def jar_classpath(cp):
    """The classpath with each class directory packed into a jar: a JVM
    class-data-sharing archive only accepts jars."""
    jars = os.path.join(BUILD, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for root, _, files in sorted(os.walk(entry)):
                    for f in sorted(files):
                        p = os.path.join(root, f)
                        z.write(p, os.path.relpath(p, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def dump_class_archive(cp):
    """Archive the classes one short star_queries run loads (JVM dynamic
    class-data sharing), so every run starts its JVM and Spark session
    without parsing them again: ~11 s → ~5.5 s on 4 cores."""
    if os.path.exists(CDS):
        os.remove(CDS)
    d = os.path.join(BUILD, "cds-run")
    shutil.rmtree(d, ignore_errors=True)
    try:
        gen.generate("star_queries", 0, os.path.join(d, "input"))
        run_jvm(cp, "star_queries", os.path.join(d, "input"), os.path.join(d, "out"),
                1, 0, time.time() + 600, {"reps": 1, "warmup": 1},
                [f"-XX:ArchiveClassesAtExit={CDS}"])
    except SystemExit as e:
        log(f"no class-data-sharing archive ({e}); runs start without one")
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------------------------- run
def run_jvm(cp, workload, inp, out, ops, trace, deadline, cfg=None, jvm=None):
    cfg = cfg or WORKLOADS[workload]
    if jvm is None:
        jvm = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + jvm + ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                               "perfbench.Main",
                               "--workload", workload, "--input", inp, "--out", out,
                               "--ops", str(ops), "--trace", str(trace),
                               "--reps", str(cfg["reps"]), "--warmup", str(cfg["warmup"]),
                               "--launch-ms", str(int(time.time() * 1000))])
    with open(os.path.join(out, "jvm.log"), "w") as errf:
        p = subprocess.Popen(cmd, cwd=out, stdin=subprocess.DEVNULL,
                             stdout=errf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: the harness ran out of time")
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: the harness exited with {rc}")


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


# ---------------------------------------------------------------- checks
def star_oracle(inp, out):
    """Compare each query's reference result (its first run) with the
    query's DuckDB oracle SQL, as tools/check_oracle.py does. Returns
    {query: True/False}."""
    import duckdb
    import pandas as pd
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads=1")
    for p in sorted(glob.glob(os.path.join(inp, "star", "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True,
                              key=lambda s: s.astype(str))

    ok = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out, "results", name, "*.parquet"))
        try:
            got = norm(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            exp = norm(con.execute(sql).df())
            same = list(got.columns) == list(exp.columns) and len(got) == len(exp)
            if same:
                for c in got.columns:
                    a, b = got[c], exp[c]
                    if not ((a.astype(str) == b.astype(str)) | (a.isna() & b.isna())).all():
                        same = False
                        break
        except Exception as e:  # a missing or unreadable result fails the query
            log(f"oracle check of {name}: {e}")
            same = False
        if not same:
            log(f"query {name} differs from its DuckDB oracle")
        ok[name] = same
    return ok


ETL_ZERO = ["dup_customer_keys", "dup_product_keys", "prd_ids_not_one_current",
            "dup_sales_pairs", "failed_log_rows", "untrimmed_names",
            "unstandardised_codes", "orphan_customer_keys", "orphan_product_keys",
            "bad_sales_amounts"]


def check_op(workload, op, manifest, oracle):
    """True when the op ran and its observed outputs match expectations."""
    if not op.get("ok_run") or "check_error" in op.get("check", {}):
        return False
    c = op["check"]
    if workload == "star_queries":
        return bool(c["same_as_reference"]) and oracle.get(c["query"], False)
    if workload == "etl_incremental":
        b = next(x for x in manifest["batches"] if x["name"] == op["batch"])
        return (all(c[k] == 0 for k in ETL_ZERO)
                and c["unknown_customers"] == 1 and c["unknown_products"] == 1
                and c["fact_rows"] == b["fact_rows"]
                and op["report_customers"] == c["expected_report_customers"])
    e = manifest["epochs"][op["epoch"]]
    return all(c[f"{t}_kept_count"] == e["kept_count"]
               and c[f"{t}_kept_sha1"] == e["kept_sha1"]
               and c[f"{t}_funnel"] == e["funnel"] for t in ("cur_mh", "cur_ng"))


# --------------------------------------------------------------- metrics
def input_bytes_initial(workload, manifest):
    if workload == "etl_incremental":
        return manifest["initial"]["bytes"]
    if workload == "curation_ingest":
        return manifest["bootstrap"]["bytes"]
    return 0


def end_to_end(workload, ops, setup_s, setup, manifest, attempted, failed):
    """Every end-to-end metric as (name, value or None, unit, note)."""
    timed = [o for o in ops if o["window"] == "timed"]
    lat = [o["latency_ms"] for o in timed]
    busy_ms = sum(lat)
    rows = sum(o.get("rows_in", o.get("rows_out", 0)) for o in timed)
    t = M.tail(lat)
    ins = sum(o.get("input_bytes", 0) for o in timed)
    loaded = input_bytes_initial(workload, manifest) + sum(o.get("input_bytes", 0) for o in ops)
    no_input = "no input is ingested"
    return [
        ("setup_s", setup_s, "s", "generate + session + median set-up + warm-up"),
        ("op_cpu_ms", M.mean(o["cpu_ms"] for o in timed), "ms",
         "CPU of the Java threads per timed op (JIT and GC threads excluded), mean"),
        ("heap_live_mb", setup["heap_live_mb"], "MB", "driver heap after full GCs"),
        ("op_process_cpu_ms", M.mean(o["process_cpu_ms"] for o in timed), "ms",
         "CPU of the whole process per timed op, JIT and GC included, mean"),
        ("op_p50_ms", M.median(lat), "ms", f"wall, {len(lat)} ops"),
        ("op_tail_ms", t[0] if t else None, "ms",
         f"p{t[1]:.1f} of {t[2]} ops, {M.MIN_BEYOND} beyond it" if t else
         f"{len(lat)} ops: no percentile has {M.MIN_BEYOND} beyond it"),
        ("ops_per_s", len(timed) / (busy_ms / 1000.0), "1/s", "ops / summed wall"),
        ("rows_per_s", rows / (busy_ms / 1000.0), "1/s",
         "result rows" if workload == "star_queries" else "input rows"),
        ("fail_ratio", M.fail_ratio(attempted, failed), "ratio",
         f"{failed} failed of {attempted} attempted"),
        ("written_bytes_per_input_byte",
         sum(o["walk"].get("bytes_written", 0) for o in timed) / ins if ins else None,
         "ratio", "" if ins else no_input),
        ("stored_bytes_per_input_byte",
         timed[-1]["walk"]["bytes_stored"] / loaded if ins else None,
         "ratio", "" if ins else no_input),
        ("host_steal_pct", 100 * sum(o["steal_ms"] for o in timed) / (busy_ms * setup["cores"]),
         "%", "CPU the host took from this machine during timed ops"),
    ]


def per_layer(ops, spans, jobs, events, e2e, overhead_ms):
    """Per-op means over the traced window of every layer metric; layers
    a workload does not use report 0."""
    traced = [o for o in ops if o["window"] == "timed"]
    op_spans = {s["op"]: s for s in spans if s["name"] == "op" and s["parent"] == -1}
    rec = M.attribute(traced, spans, jobs, events)
    names = {}

    def put(k, v):
        names[k] = float(v)

    sp = [M.spark_layer(o, rec[o["op"]]) for o in traced]
    for k in sp[0]:
        put(k, M.mean(x[k] for x in sp))
    breakdowns = [M.op_breakdown(op_spans[o["op"]], spans) for o in traced]

    def layer_ms(name):
        return M.mean(b["layers_us"].get(name, 0.0) for b in breakdowns) / 1000.0

    def span_ms(name):
        return M.mean(sum(s["end_us"] - s["start_us"] for s in spans
                          if s["op"] == o["op"] and s["name"] == name)
                      for o in traced) / 1000.0

    put("analytics.build_ms", span_ms("analytics.build"))
    put("analytics.exec_ms", span_ms("analytics.exec"))
    put("etl.pipeline_ms", span_ms("etl.pipeline"))
    for child in M.ETL_CHILDREN:
        put(child + "_ms", span_ms(child))
    put("etl.audit_ms", layer_ms("etl.pipeline"))
    put("etl.reports_ms", span_ms("etl.reports"))
    chk = [o.get("check", {}) for o in traced]
    put("etl.rows_loaded", M.mean(c.get("rows_loaded", 0) for c in chk))
    put("etl.dq_issues", M.mean(c.get("dq_issues", 0) for c in chk))
    walks = [o["walk"] for o in traced]
    put("warehouse.bytes_written", M.mean(w.get("bytes_written", 0) for w in walks))
    put("warehouse.files", walks[-1].get("files", 0))
    put("warehouse.audit_files", walks[-1].get("audit_files", 0))
    put("warehouse.stale_dirs", max(w.get("stale_dirs", 0) for w in walks))
    put("textops.minhash.epoch_ms", span_ms("textops.minhash.epoch"))
    put("textops.exact.epoch_ms", span_ms("textops.exact.epoch"))
    put("textops.compact_epoch_ms", M.mean(o["latency_ms"] for o in traced if o.get("compaction")))
    put("textops.steady_epoch_ms",
        M.mean(o["latency_ms"] for o in traced if o.get("compaction") is False))
    kept = quality = 0
    for c in chk:
        for t in ("cur_mh", "cur_ng"):
            f = c.get(f"{t}_funnel") or [0, 0, 0, 0]
            quality += f[2]
            kept += f[3]
    put("textops.kept_ratio", kept / quality if quality else 0.0)
    put("textops.index_bytes", walks[-1].get("index_bytes", 0))
    put("textops.index_files", walks[-1].get("index_files", 0))
    # the byte ratios are the end-to-end ones over the traced window
    put("written_bytes_per_input_byte", e2e["written_bytes_per_input_byte"] or 0.0)
    put("stored_bytes_per_input_byte", e2e["stored_bytes_per_input_byte"] or 0.0)
    put("unattributed_ms", M.mean(b["unattributed_us"] for b in breakdowns) / 1000.0)
    put("trace.breakdown_residual_ms", max(abs(b["residual_us"]) for b in breakdowns) / 1000.0)
    put("trace.overhead_ms", overhead_ms)
    return names, breakdowns


# ------------------------------------------------------------------ main
def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    cp = build()
    deadline = time.time() + DEADLINE_S.get(a.workload, DEFAULT_DEADLINE_S)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        return measure(a, cp, run_dir, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def checked_run(a, cp, inp, out, manifest, trace, deadline):
    """Run the harness once; return its set-up record, its ops, the ops'
    check results and whether the run as a whole is correct."""
    run_jvm(cp, a.workload, inp, out, timed_ops(a.workload, a.seconds), trace, deadline)
    setup = read_jsonl(os.path.join(out, "setup.json"))[0]
    ops = read_jsonl(os.path.join(out, "ops.jsonl"))
    oracle = star_oracle(inp, out) if a.workload == "star_queries" else {}
    ok = {o["op"]: check_op(a.workload, o, manifest, oracle) for o in ops}
    correct = all(ok.values()) and any(o["window"] == "timed" for o in ops)
    if a.workload == "star_queries":
        correct = correct and len(oracle) == POOL and all(oracle.values())
    return setup, ops, ok, correct


def measure(a, cp, run_dir, deadline):
    inp = os.path.join(run_dir, "input")
    out = os.path.join(run_dir, "out")
    t0 = time.time()
    manifest = gen.generate(a.workload, a.seed, inp)
    gen_s = time.time() - t0
    overhead_ms = None
    if a.trace:
        # the same seed and ops untraced, so the traced run's latency minus
        # this one's is what tracing costs
        _, plain, plain_ok, plain_correct = checked_run(
            a, cp, inp, os.path.join(run_dir, "plain"), manifest, 0, deadline)
    setup, ops, ok, correct = checked_run(a, cp, inp, out, manifest, a.trace, deadline)
    warm = [o for o in ops if o["window"] == "warmup"]
    timed = [o for o in ops if o["window"] == "timed"]
    failed = sum(not ok[o["op"]] for o in timed)
    attempted = len(timed)
    if a.trace:
        plain_timed = [o for o in plain if o["window"] == "timed"]
        failed += sum(not plain_ok[o["op"]] for o in plain_timed)
        attempted += len(plain_timed)
        correct = correct and plain_correct
        overhead_ms = (M.median([o["latency_ms"] for o in timed])
                       - M.median([o["latency_ms"] for o in plain_timed]))
    setup_s = gen_s + setup["session_s"] + M.median(setup["load_s"]) + setup["warmup_s"]
    e2e = end_to_end(a.workload, ops, setup_s, setup, manifest, attempted, failed)
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  cores {setup['cores']}")
    print(f"setup: generate {gen_s:.3f} s, session {setup['session_s']:.3f} s, "
          f"set-up reps {', '.join(f'{x:.3f}' for x in setup['load_s'])} s "
          f"(median counted), warm-up {len(warm)} ops {setup['warmup_s']:.3f} s")
    for k, v, u, note in e2e:
        shown = f"{v:14.4f}" if v is not None else f"{'n/a':>14}"
        print(f"{k:>32} {shown} {u:<6} {note}")
    if a.trace:
        spans = read_jsonl(os.path.join(out, "spans.jsonl"))
        jobs = read_jsonl(os.path.join(out, "jobs.jsonl"))
        events = read_jsonl(os.path.join(out, "events.jsonl"))
        layers, breakdowns = per_layer(ops, spans, jobs, events,
                                       {k: v for k, v, _, _ in e2e}, overhead_ms)
        keep = os.path.join(BUILD, "traces", a.workload)
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in ["spans.jsonl", "jobs.jsonl", "events.jsonl", "ops.jsonl"]:
            shutil.copy(os.path.join(out, f), keep)
        with open(os.path.join(keep, "breakdown.jsonl"), "w") as f:
            for o, b in zip(timed, breakdowns):
                f.write(json.dumps({"op": o["op"], **b}) + "\n")
        declared = M.PER_LAYER + (M.textops_layer() if a.workload == "curation_ingest" else [])
        for k, u in declared:
            print(f"{k:>52} {layers[k]:16.4f} {u}")
        print(f"traced ops: {len(breakdowns)}; per-op breakdowns in {os.path.relpath(keep, ROOT)}")
        result = {k: {"value": layers[k], "unit": u} for k, u in declared}
    else:
        values = {k: v for k, v, _, _ in e2e}
        result = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
