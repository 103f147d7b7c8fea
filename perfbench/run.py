#!/usr/bin/env python3
"""The repository benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run it from the repository root.  It builds the program and the JVM
harness from source (cached under perfbench/target), generates the
workload's inputs from the seed, runs the harness, checks the outputs
and prints, as its last stdout line, one JSON object
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`.  An output
mismatch prints `"correct": false` and exits 1.  See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("tick-cold", "tick-steady", "query-suite")
# Device copies per fixture device in the tick payloads.
TICK_COPIES = 100
# Nominal seconds of one timed pass; `--seconds` / this = passes per run.
NOMINAL_PASS_S = 10.0
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("item_p50_s", "s"),
              ("item_tail_s", "s"), ("rows_per_s", "1/s"),
              ("peak_heap_mb", "MB")]
TICK_LAYERS = [
    ("sources.payload_bytes", "B"), ("sources.bytes_read", "B"),
    ("sources.read_amplification", "ratio"), ("sources.inference_jobs", "count"),
    ("pipeline.plan_s", "s"), ("pipeline.count_s", "s"),
    ("pipeline.queue_wait_s", "s"), ("pipeline.jobs", "count"),
    ("pipeline.stages", "count"), ("pipeline.cpu_busy_share", "ratio"),
    ("sinks.csv_s", "s"), ("sinks.envelope_s", "s"),
    ("sinks.bytes_written", "B"), ("sinks.files_written", "count"),
    ("sinks.diff_s", "s"), ("sinks.watermark_s", "s"),
    ("sinks.state_bytes_read", "B"), ("sinks.stations_written_share", "ratio"),
    ("sinks.summary_s", "s")]
SUITE_LAYERS = [
    ("queries.analysis_s", "s"), ("queries.optimization_s", "s"),
    ("queries.planning_s", "s"), ("queries.core_s", "s"),
    ("queries.build_s", "s"), ("queries.exec_s", "s"),
    ("queries.driver_gap_s", "s"), ("queries.jobs", "count"),
    ("queries.stages", "count"), ("ext.pairs_s", "s"),
    ("ext.pairs_gc_s", "s"), ("ext.crawl_s", "s"), ("ext.persist_s", "s"),
    ("ext.persist_driver_gap_s", "s")]
ENGINE_LAYERS = [
    ("engine.task_s", "s"), ("engine.gc_s", "s"), ("engine.alloc_mb", "MB"),
    ("engine.shuffle_bytes", "B"), ("engine.spill_bytes", "B"),
    ("engine.driver_gap_s", "s")]
PER_LAYER = TICK_LAYERS + SUITE_LAYERS + ENGINE_LAYERS + [
    ("trace.overhead_s", "s")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of everything the harness classpath is built from."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties",
                 "perfbench/src"):
        path = os.path.join(ROOT, base)
        paths = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program and harness once per source state; returns
    the harness runtime classpath."""
    stamp = source_stamp()
    cache = os.path.join(HERE, "target", "bench-classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("stamp") == stamp:
            return c["classpath"], stamp
    log("building program and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln.strip() for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 3)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1], stamp


# ---------------------------------------------------------------- stats

def median(xs):
    return statistics.median(xs)


def tail(xs):
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100, n
    return s[n - 11], math.floor(100.0 * (n - 10) / n), n


# ---------------------------------------------------------------- checks

def _stations(path):
    import pyarrow.parquet as pq
    if not os.path.isdir(path):
        return set()
    t = pq.read_table(path, columns=["sensor_node_id", "json"])
    return set(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def changed_stations(state, sink, providers):
    """Stations whose rendered document is new or different in the
    sink's snapshot, per station-object provider."""
    return {p: len(_stations(os.path.join(sink, "stations", p)) -
                   (_stations(os.path.join(state, "stations", p))
                    if state else set()))
            for p in providers}


def check_ticks(res, manifest, workload, state, problems):
    hour = "h1" if workload == "tick-steady" else "h0"
    expected = manifest["expected"][hour]
    attempted = failed = 0
    passes = res["passes"] + res["traced_passes"]
    for i, p in enumerate(passes):
        for item in p["items"]:
            attempted += 1
            name = item["name"]
            if not item["ok"]:
                failed += 1
                problems.append(f"pass {i}: {name} failed: {item['error']}")
                continue
            got = item["summary"]
            want = dict(expected[name], source_name=name)
            if got != want:
                problems.append(f"pass {i}: {name} summary {got} != {want}")
        want_changed = (manifest["changed_stations"] if hour == "h1" else
                        {q: expected[q]["locations"]
                         for q in manifest["changed_stations"]})
        got_changed = changed_stations(state if hour == "h1" else None,
                                       p["sink"], want_changed)
        if got_changed != want_changed:
            problems.append(f"pass {i}: changed stations "
                            f"{got_changed} != {want_changed}")
    if sorted(i["name"] for i in res["passes"][0]["items"]) != sorted(expected):
        problems.append("the tick did not run all 16 providers")
    ref = res["passes"][0]
    for i, p in enumerate(res["traced_passes"]):
        if p["listing"] != ref["listing"]:
            diff = set(p["listing"]) ^ set(ref["listing"])
            problems.append(f"traced pass {i}: output listing differs from "
                            f"the untraced tick: {sorted(diff)[:5]}")
        if [x["summary"] for x in p["items"]] != \
                [x["summary"] for x in ref["items"]]:
            problems.append(f"traced pass {i}: summaries differ from the "
                            "untraced tick")
    return attempted, failed


def oracle_counts(tables, oracle_sql):
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(tables)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables, f)}')")
    return {q: con.execute(f"SELECT count(*) FROM ({sql.rstrip().rstrip(';')})"
                           ).fetchone()[0]
            for q, sql in sorted(oracle_sql.items())}


def check_suite(res, tables, problems):
    expected = oracle_counts(tables, res["oracle_sql"])
    attempted = failed = 0
    for i, p in enumerate(res["passes"] + res["traced_passes"]):
        for item in p["items"]:
            attempted += 1
            q = item["name"]
            if not item["ok"]:
                failed += 1
                problems.append(f"pass {i}: {q} failed: {item['error']}")
            elif item["rows"] != expected.get(q):
                problems.append(f"pass {i}: {q} rows {item['rows']} != "
                                f"oracle {expected.get(q)}")
    return attempted, failed


# ---------------------------------------------------------------- run

def run_stamp(args, stamp, env):
    try:
        with open("/proc/loadavg") as f:
            load = f.read().split()[:3]
    except OSError:
        load = None
    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "loadavg": load, "nproc": os.cpu_count(), "heap": HEAP,
            "heap_max_mb": env.get("heap_max_mb"), "jdk": env.get("jdk"),
            "spark": env.get("spark"), "commit": commit,
            "source_sha256": stamp, "python": platform.python_version()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.perf_counter()

    fixtures = os.path.join(ROOT, "src", "test", "resources", "fixtures")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isdir(fixtures)):
        fail("no program sources next to perfbench/ (build.sbt, src/main, "
             "src/test/resources/fixtures); run from a repository checkout")
    classpath, stamp = build()

    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_gen = time.perf_counter()
    manifest = None
    if args.workload == "query-suite":
        import gen_tables
        gen_tables.generate(os.path.join(work, "tables"), args.seed)
    else:
        import gen_ticks
        manifest = gen_ticks.generate(fixtures, os.path.join(work, "inputs"),
                                      args.seed, TICK_COPIES)
        with open(os.path.join(work, "manifest.json"), "w") as f:
            json.dump(manifest, f)
    gen_s = time.perf_counter() - t_gen

    passes = max(1, round(args.seconds / NOMINAL_PASS_S))
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+ParallelRefProcEnabled",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
            "--work", work, "--passes", str(passes),
            "--trace", str(args.trace), "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf,
                                stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S} s", 4)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {rc}", 4)
    with open(out) as f:
        res = json.load(f)

    problems = []
    if manifest is not None:
        attempted, failed = check_ticks(res, manifest, args.workload,
                                        os.path.join(work, "state"), problems)
    else:
        attempted, failed = check_suite(res, os.path.join(work, "tables"),
                                        problems)

    passes_ = res["passes"]
    walls = [p["wall_s"] for p in passes_]
    if manifest is not None:
        # Provider done times, pooled over the run's ticks.
        items = [i["done_s"] for p in passes_ for i in p["items"]
                 if i["done_s"] is not None]
    else:
        # Per-query wall time, the median over the run's passes, so that
        # a stall of the host in one pass does not reach the percentiles.
        items = [median(ts) for ts in
                 zip(*([i["done_s"] for i in p["items"]] for p in passes_))]
    tail_v, tail_pct, tail_n = tail(items)
    if manifest is not None:
        rows = [sum(i["summary"]["measures"] for i in p["items"] if i["ok"])
                for p in passes_]
    else:
        rows = [sum(i["rows"] or 0 for i in p["items"]) for p in passes_]
    setup_s = gen_s + res["session_s"] + res["warmup_s"]
    values = {
        "setup_s": setup_s,
        "pass_s": median(walls),
        "item_p50_s": median(items),
        "item_tail_s": tail_v,
        "rows_per_s": median([r / w for r, w in zip(rows, walls)]),
        "peak_heap_mb": res["peak_heap_mb"],
    }
    stamp_rec = run_stamp(args, stamp, res.get("env", {}))
    record = {"run": stamp_rec, "passes": len(walls), "pass_walls_s": walls,
              "item_tail": f"p{tail_pct} of {tail_n} samples",
              "setup_parts_s": {"generate": gen_s, "session": res["session_s"],
                                "warmup": res["warmup_s"]},
              "problems": problems[:50]}
    if args.trace:
        layers = {}
        traced = [p["layers"] for p in res["traced_passes"]]
        for name, _ in PER_LAYER:
            vals = [t[name] for t in traced if name in t]
            layers[name] = median(vals) if vals else 0.0
        layers["trace.overhead_s"] = (
            median([p["wall_s"] for p in res["traced_passes"]])
            - median(walls))
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
        record["spans"] = os.path.relpath(
            os.path.join(work, "trace-spans.jsonl"), ROOT)
    else:
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    record["metrics"] = metrics
    record["total_s"] = time.perf_counter() - t_start
    runs = os.path.join(ROOT, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{int(time.time())}-{args.workload}-"
                           f"{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    for p in problems[:20]:
        log(f"MISMATCH {p}")
    log("run " + json.dumps(stamp_rec))
    print(f"# {args.workload} seed={args.seed} passes={len(walls)} "
          f"item_tail_s=p{tail_pct} of {tail_n} samples "
          f"loadavg={stamp_rec['loadavg']}")
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
