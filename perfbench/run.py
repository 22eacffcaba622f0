#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness from source, makes
the workload's inputs from the seed, runs the workload, checks the outputs and
prints every metric.

  python3 perfbench/run.py --workload cdc_backfill --seed 1 --seconds 15 --trace 0

Run from the repository root. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones (see README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
from collections import Counter

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = {"cdc_backfill": "backfill", "neardup_ingest": "neardup"}
# a fixed heap: with a growing one, peak RSS follows the GC's sizing
# decisions more than the workload
HEAP = "2g"
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

E2E_UNITS = {"setup_s": "s", "commit_to_sink_p50_ms": "ms", "commit_to_sink_p99_ms": "ms",
             "drain_eps": "1/s", "ingest_batch_p50_ms": "ms", "ingest_docs_per_s": "1/s",
             "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms",
    "sources.segments_per_batch": "count", "sources.ack_lag_ms": "ms",
    "streaming.engine.query_planning_ms": "ms", "streaming.engine.wal_commit_ms": "ms",
    "streaming.engine.commit_offsets_ms": "ms", "streaming.engine.trigger_ms": "ms",
    "streaming.engine.jobs_per_batch": "count", "streaming.engine.tasks_per_batch": "count",
    "streaming.engine.driver_gap_ms": "ms",
    "cdc.decode.self_ms": "ms", "streaming.assembly.self_ms": "ms",
    "cdc.normalize.self_ms": "ms", "streaming.sink.self_ms": "ms",
    "streaming.sink.bytes_written": "bytes", "spark.task_time_ms": "ms",
    "spark.shuffle_write_bytes": "bytes", "spark.task_skew": "ratio",
    "streaming.assembly.state_rows": "count", "streaming.assembly.state_bytes": "bytes",
    "streaming.assembly.state_commit_ms": "ms",
    "streaming.assembly.rows_dropped_by_watermark": "count",
    "streaming.assembly.replay_suppressed": "count", "streaming.assembly.useful_ratio": "ratio",
    "jvm.gc_ms": "ms", "jvm.gc_count": "count",
    "ops.dedupindex.batch_ms": "ms", "ops.dedupindex.jobs_per_batch": "count",
    "ops.dedupindex.driver_gap_ms": "ms", "ops.dedupindex.task_time_ms": "ms",
    "ops.dedupindex.files_written": "count", "ops.dedupindex.changelog_rows": "count",
    "baseline.local1_drain_eps": "1/s", "trace.overhead_pct": "%"}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def percentile(xs, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


# ------------------------------------------------------------------ build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark installation with a Scala compiler found "
                 "(set SPARK_HOME)")
    return jars


def compile_tree(name, srcs, jars, extra_cp=(), salt=""):
    """Compile `srcs` into `.bench_build/<name>-<hash of the sources>`;
    reuse that directory when it is already complete."""
    h = hashlib.sha256(salt.encode())
    for src in srcs:
        h.update(src.encode())
        with open(src, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "%s-%s" % (name, h.hexdigest()[:16]))
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    log("perfbench: compiling %d %s sources" % (len(srcs), name))
    cp = os.pathsep.join(list(extra_cp) + [os.path.join(jars, "*")])
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp",
                        os.path.join(jars, "*"), "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        sys.exit("perfbench: compilation failed")
    open(os.path.join(classes, ".ok"), "w").close()
    return classes


def build(jars):
    """Compile the engine (src/main/scala), then the harness against it.
    Returns the class path of both."""
    if not os.path.isdir(ENGINE_SRC):
        sys.exit("perfbench: engine sources not found at src/main/scala; "
                 "run from the repository root")
    engine = compile_tree(
        "engine", sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)),
        jars)
    harness = compile_tree(
        "harness", sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True)),
        jars, [engine], salt=engine)
    return harness + os.pathsep + engine


# -------------------------------------------------------------------- run

def run_harness(classes, jars, mode, work, seconds, trace, cores):
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP,
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Harness",
            "--mode", mode, "--work", work, "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores)] +
           (["--trace-out", os.path.join(BUILD, "traces", "%s-%d.jsonl" % (mode, os.getpid()))]
            if trace else []))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=170)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        with open(os.path.join(work, "harness.log")) as f:
            log("".join(f.readlines()[-40:]))
        raise RuntimeError("harness exited with %d" % proc.returncode)
    with open(os.path.join(work, "harness.json")) as f:
        return json.load(f)


def gen(*args):
    subprocess.run([sys.executable, os.path.join(BENCH, "gen.py")] + [str(a) for a in args],
                   check=True)


# ---------------------------------------------------------------- checker

def read_sink(out):
    """Sink rows per output file, in written order."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    files = []
    for path in sorted(glob.glob(os.path.join(out, "batch_id=*", "*.parquet"))):
        t = pq.read_table(path, columns=["event_id", "table", "operation", "txid",
                                         "subject", "commit_time", "lsn", "before", "after"])
        if t.num_rows == 0:
            continue
        key = pc.if_else(pc.equal(t["operation"], "DELETE"),
                         pc.map_lookup(t["before"], "id", "first"),
                         pc.map_lookup(t["after"], "id", "first"))
        files.append({c: t[c].to_pylist() for c in
                      ("event_id", "table", "operation", "txid", "subject", "commit_time", "lsn")}
                     | {"key": key.to_pylist()})
    return files


def check_cdc(out, expected):
    """Exactly the expected events, no duplicate event_id, and commit/LSN
    order within each subject of each batch file. Returns (failed, extra
    events, sink rows)."""
    files = read_sink(out)
    got = Counter()
    ids = Counter()
    order_bad = 0
    for f in files:
        last = {}
        for i in range(len(f["event_id"])):
            eid = f["event_id"][i]
            seq = int(eid.rsplit(":", 1)[1])
            got[(f["table"][i], int(f["key"][i]), f["operation"][i], f["txid"][i], seq)] += 1
            ids[eid] += 1
            hi, lo = f["lsn"][i].split("/")
            pos = (f["commit_time"][i], int(hi, 16) << 32 | int(lo, 16), seq)
            subj = f["subject"][i]
            if subj in last and pos < last[subj]:
                order_bad += 1
            last[subj] = pos
    want = Counter(tuple(e) for e in expected)
    missing = sum((want - got).values())
    extra = sum((got - want).values())
    dup_ids = sum(n - 1 for n in ids.values() if n > 1)
    if missing or extra or dup_ids or order_bad:
        log("check: missing=%d extra=%d duplicate_ids=%d order_violations=%d"
            % (missing, extra, dup_ids, order_bad))
    return min(len(expected), missing + extra + dup_ids + order_bad), extra, sum(got.values())


def scratch_clusters(docs, n=3, threshold=0.8):
    """From-scratch min-label clustering: exact Jaccard over distinct word
    3-gram shingles (single-space tokens), union-find over pairs >= 0.8."""
    sh = {i: {" ".join(t[k:k + n]) for k in range(len(t) - n + 1)}
          for i, t in ((i, s.split(" ")) for i, s in docs.items())}
    index = {}
    for i, ss in sh.items():
        for s in ss:
            index.setdefault(s, []).append(i)
    parent = {i: i for i in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    seen = set()
    for ids in index.values():
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                p = (min(ids[a], ids[b]), max(ids[a], ids[b]))
                if p in seen:
                    continue
                seen.add(p)
                inter = len(sh[p[0]] & sh[p[1]])
                if inter / (len(sh[p[0]]) + len(sh[p[1]]) - inter) >= threshold:
                    ra, rb = find(p[0]), find(p[1])
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in docs}


def check_neardup(work, phase, batches):
    import pyarrow.parquet as pq
    docs = {}
    for b in range(batches):
        t = pq.read_table(os.path.join(work, "input", "docs", "b%04d.parquet" % b))
        docs.update(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
    want = scratch_clusters(docs)
    t = pq.read_table(os.path.join(work, "clusters_%d" % phase))
    got = dict(zip(t["id"].to_pylist(), t["cluster"].to_pylist()))
    bad = sum(1 for i in want if got.get(i) != want[i]) + sum(1 for i in got if i not in want)
    if bad:
        log("check: %d documents with a wrong or missing cluster label" % bad)
    return len(docs), min(bad, len(docs))


# ---------------------------------------------------------------- metrics

def segment_visibility(batches):
    """Visible-at time (µs) of each backlog segment: the first batch whose
    offset covers it."""
    vis = []
    for _, t, counts in batches:
        c = counts[0] if counts else 0
        while len(vis) < c:
            vis.append(t)
    return vis


def ack_lag(acks, seg_due):
    """Median over segments of (acked at − due), in ms."""
    lags, s = [], 0
    for t, c in acks:
        while s < min(c, len(seg_due)):
            lags.append((t / 1e6 - seg_due[s]) * 1000.0)
            s += 1
    return statistics.median(lags) if lags else 0.0


def segments_per_batch(batches):
    prev, per = 0, []
    for _, _, counts in batches:
        c = counts[0] if counts else 0
        if c > prev:
            per.append(c - prev)
        prev = max(prev, c)
    return statistics.median(per) if per else 0.0


def backfill_phase(work, ph, exp):
    """Latency counts from the drain start (the whole backlog is due then).
    Throughput counts from the first batch's visibility to the last batch's,
    so the query's start-up is left out of it."""
    vis = segment_visibility(ph["batches"])
    start = ph["start_us"] / 1e6
    seg = exp["segment_of_event"]
    lat = [(vis[s] / 1e6 - start) * 1000.0 for s in seg]
    first = ph["batches"][0]
    window = (ph["batches"][-1][1] - first[1]) / 1e6
    after_first = sum(1 for s in seg if s >= first[2][0])
    return {
        "lat": lat,
        "e2e": {"commit_to_sink_p50_ms": percentile(lat, 50),
                "commit_to_sink_p99_ms": percentile(lat, 99),
                "drain_eps": after_first / window,
                "ingest_docs_per_s": (ph["input_rows"] - ph["first_batch_rows"]) / window,
                "ingest_batch_p50_ms": statistics.median(ph["batch_ms"][1:])},
        "ack_lag": ack_lag(ph["acks"], [start] * exp["plan"]["segments"]),
        "segments_per_batch": segments_per_batch(ph["batches"])}


def neardup_phase(work, ph, batch_docs):
    ms = ph["batch_ms"]
    lat = [m for m in ms for _ in range(batch_docs)]
    docs = batch_docs * len(ms)
    return {"lat": lat, "batches": len(ms) + 1,
            "e2e": {"commit_to_sink_p50_ms": percentile(lat, 50),
                    "commit_to_sink_p99_ms": percentile(lat, 99),
                    "drain_eps": docs / ph["wall_s"],
                    "ingest_docs_per_s": docs / (sum(ms) / 1000.0),
                    "ingest_batch_p50_ms": statistics.median(ms)}}


def run_workload(args, classes, jars, work):
    mode = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    inp = os.path.join(work, "input")
    gen(mode, "--seed", args.seed, "--out", inp, "--seconds", args.seconds)
    h = run_harness(classes, jars, mode, work, args.seconds, args.trace, cores)

    attempted = failed = 0
    results = []
    exp = None
    if mode == "backfill":
        with open(os.path.join(inp, "expected.json")) as f:
            exp = json.load(f)
    else:
        import pyarrow.parquet as pq
        batch_docs = pq.read_metadata(os.path.join(inp, "docs", "b0000.parquet")).num_rows
    for p, ph in enumerate(h["phases"]):
        if mode == "backfill":
            r = backfill_phase(work, ph, exp)
            f, r["extra"], r["sink_rows"] = check_cdc(os.path.join(work, "out_%d" % p),
                                                      exp["events"])
            n = len(exp["events"])
        else:
            r = neardup_phase(work, ph, batch_docs)
            n, f = check_neardup(work, p, r["batches"])
        r["traced"] = ph["traced"]
        attempted += n
        failed += f
        results.append(r)

    e2e = dict(results[0]["e2e"])
    e2e["setup_s"] = statistics.median(h["setup_s"]) if h["setup_s"] else 0.0
    e2e["peak_rss_mb"] = h["peak_rss_mb"]
    context = {"workload": args.workload, "seed": args.seed, "cores": cores,
               "setup_cold_s": h["setup_cold_s"], "setup_runs_s": h["setup_s"],
               "calibration": h.get("calibration"), "samples": len(results[0]["lat"])}
    metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    if args.trace:
        metrics = layer_metrics(mode, h, results, exp)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, context


def layer_metrics(mode, h, results, exp):
    """Per-layer metrics of the traced phase. The phases run untraced,
    traced, untraced; the tracing overhead is the traced phase against the
    mean of its two neighbours, so a warm-up trend across the three cancels."""
    t = next(i for i, r in enumerate(results) if r["traced"])
    traced = results[t]
    untraced = [results[t - 1], results[t + 1]]
    layers = {k: 0.0 for k in LAYER_UNITS}
    layers.update(h["phases"][t].get("layers", {}))
    if mode == "backfill":
        layers["sources.ack_lag_ms"] = traced["ack_lag"]
        layers["sources.segments_per_batch"] = traced["segments_per_batch"]
        pre = h["prefix_s"]
        layers["cdc.decode.self_ms"] = (pre[1] - pre[0]) * 1000.0
        layers["streaming.assembly.self_ms"] = (pre[2] - pre[1]) * 1000.0
        layers["cdc.normalize.self_ms"] = (pre[3] - pre[2]) * 1000.0
        layers["streaming.sink.self_ms"] = (pre[4] - pre[3]) * 1000.0
        replayed = exp["plan"]["replayed_events"]
        layers["streaming.assembly.replay_suppressed"] = max(0, replayed - traced["extra"])
        # events the sink wrote per WAL line the source admitted (B/C markers
        # and the redelivered range included)
        layers["streaming.assembly.useful_ratio"] = (
            traced["sink_rows"] / h["phases"][t]["input_rows"])
        layers["baseline.local1_drain_eps"] = h["local1_rows"] / h["local1_drain_s"]
        base = statistics.mean(r["e2e"]["drain_eps"] for r in untraced)
        layers["trace.overhead_pct"] = (base / traced["e2e"]["drain_eps"] - 1.0) * 100.0
    else:
        base = statistics.mean(r["e2e"]["ingest_batch_p50_ms"] for r in untraced)
        layers["trace.overhead_pct"] = (traced["e2e"]["ingest_batch_p50_ms"] / base - 1.0) * 100.0
    return {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(BUILD, "runs", "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        try:
            result, context = run_workload(args, classes, jars, work)
        except Exception as e:  # a run that errors counts every operation failed
            log("perfbench: run failed: %r" % (e,))
            keys = LAYER_UNITS if args.trace else E2E_UNITS
            result = {"correct": False, "attempted": 1, "failed": 1,
                      "metrics": {k: {"value": 0.0, "unit": u} for k, u in keys.items()}}
            context = {"workload": args.workload, "seed": args.seed, "error": repr(e)}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for k, m in result["metrics"].items():
        print("%-46s %16.4f %s" % (k, m["value"], m["unit"]))
    print("context " + json.dumps(context))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
