#!/usr/bin/env python3
"""graft benchmark: one seeded workload, timed end to end, outputs checked.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: corpus_refresh, rag_live, corpus_rebuild (see perfbench/README.md).
The first run in a checkout compiles the program and the benchmark with sbt
into .bench_build/. Every run generates its inputs from --seed, starts one
JVM (perfbench.Main) that sets up and then measures for --seconds, checks
the outputs, and prints as its last line one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. A full record of each run
(environment, raw samples, every metric) is written to
.bench_build/results/.
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
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
RUN_TIMEOUT_S = 150

# Input sizes per workload. The JVM runs until --seconds have passed or
# the generated batches run out, so there are more batches than a run on
# this hardware needs.
PARAMS = {
    "corpus_refresh": {"days": 16, "fresh": 150, "exact": 8, "near": 8,
                       "heldout": 40},
    "rag_live": {"initial": 250, "ticks": 16, "fresh": 30, "exact": 4,
                 "near": 4, "queries": 64, "query_words": 12},
    "corpus_rebuild": {"docs": 1200, "exact": 40, "near": 40},
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build compiles: the program and the
    benchmark sources plus the benchmark's build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source digest; later runs reuse the classes."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return digest, 0.0
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}); log in {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return digest, time.time() - t0


def cpu_steal():
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) if len(f) > 8 else 0


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def java_version():
    out = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return out.stderr.splitlines()[0] if out.stderr else "unknown"


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(workload, inp, work, seconds, trace, record):
    cp = f"{CLASSES}:{SPARK_JARS}/*"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main", workload, inp, work,
            str(seconds), str(trace), record]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=RUN_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(record):
        sys.stderr.write(open(log).read()[-6000:])
        die(f"{workload}: JVM failed ({rc}); log in {log}", 1)
    with open(record) as fh:
        return json.load(fh)


# ------------------------------------------------------------------ checks

def duck():
    import duckdb
    return duckdb.connect()


def parquet_glob(d):
    return f"read_parquet('{d}/**/*.parquet', hive_partitioning=false)"


def committed_segments(index):
    """Segment dirs the committed generation of a segment index lists."""
    with open(os.path.join(index, "_current")) as fh:
        gen_dir = os.path.join(index, f"gen-{fh.read().strip()}")
    with open(os.path.join(gen_dir, "segments.txt")) as fh:
        segs = [s.strip() for s in fh.read().splitlines() if s.strip()]
    missing = [s for s in segs if not os.path.isdir(os.path.join(index, s))]
    if missing:
        raise AssertionError(f"{index}: manifest names missing segments {missing}")
    return gen_dir, [os.path.join(index, s) for s in segs]


def tree_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def committed_bytes(index):
    gen_dir, segs = committed_segments(index)
    return tree_bytes(gen_dir) + sum(tree_bytes(s) for s in segs)


def index_ids(con, index):
    _, segs = committed_segments(index)
    files = ",".join(f"'{s}/**/*.parquet'" for s in segs)
    return {r[0] for r in con.execute(
        f"SELECT DISTINCT id FROM read_parquet([{files}])").fetchall()}


def digest_rows(con, path, cols):
    rows = con.execute(
        f"SELECT {cols} FROM {parquet_glob(path)} ORDER BY ALL").fetchall()
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def same_as_before(workload, seed, key, values, problems):
    """Outputs of one seed must repeat on every run of the same sources."""
    path = os.path.join(BUILD, "digests", source_digest()[:16],
                        f"{workload}-{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    old = json.load(open(path)) if os.path.exists(path) else {}
    seen = old.get(key, {})
    for k, v in values.items():
        if k in seen and seen[k] != v:
            problems.append(f"{key} {k}: output differs from an earlier run of seed {seed}")
        seen.setdefault(k, v)
    old[key] = seen
    with open(path, "w") as fh:
        json.dump(old, fh)


def check_refresh(man, rec, work, seed, problems):
    con = duck()
    packed = os.path.join(work, "packed")
    days = sorted(os.listdir(packed))
    survivors = con.execute(
        f"SELECT count(*), count(DISTINCT md5(text)) FROM {parquet_glob(packed)}"
    ).fetchone()
    if survivors[0] != survivors[1]:
        problems.append(f"refresh: {survivors[0] - survivors[1]} survivors share "
                        "md5(text) with another survivor")
    ran = len(days)
    planted = [p for p in man["planted"] if p["batch"] < ran]
    hash_ids = index_ids(con, os.path.join(work, "index", "hash"))
    sig_ids = index_ids(con, os.path.join(work, "index", "sig"))
    out_ids = {r[0] for r in con.execute(
        f"SELECT doc_id FROM {parquet_glob(packed)}").fetchall()}
    for p in planted:
        if p["kind"] == "exact" and (p["id"] in hash_ids or p["id"] in out_ids):
            problems.append(f"refresh: planted exact re-send {p['id']} survived")
    dropped = sum(1 for p in planted
                  if (p["id"] not in hash_ids if p["kind"] == "exact"
                      else p["id"] not in sig_ids))
    same_as_before("corpus_refresh", seed, "packed_day_digest", {
        d: digest_rows(con, os.path.join(packed, d),
                       "doc_id, n_tokens, bucket, pack, pack_pos, md5(text)")
        for d in days}, problems)
    index_bytes = sum(committed_bytes(os.path.join(work, "index", i))
                      for i in ("hash", "sig"))
    _, hsegs = committed_segments(os.path.join(work, "index", "hash"))
    _, ssegs = committed_segments(os.path.join(work, "index", "sig"))
    return {
        "dup_drop_ratio": dropped / max(1, len(planted)),
        "planted": len(planted),
        # per document the exact gate kept (the hash index's rows)
        "stored_bytes_per_doc": (index_bytes + tree_bytes(packed)) / len(hash_ids),
        "index_bytes_per_doc": index_bytes / len(hash_ids),
        "index.hash_segments": len(hsegs),
        "index.sig_segments": len(ssegs),
        "index.store_segments": 0,
    }


def check_rag(man, rec, work, seed, problems):
    con = duck()
    store = os.path.join(work, "store")
    chunks = os.path.join(store, "chunks")
    n_rows, n_keys = con.execute(
        f"SELECT count(*), count(DISTINCT chunk_key) FROM {parquet_glob(chunks)}"
    ).fetchone()
    if rec["embed_calls"] != n_rows:
        problems.append(f"rag: embedder ran {rec['embed_calls']:.0f} times for "
                        f"{n_rows} surviving chunks")
    ids = {r[0] for r in con.execute(
        f"SELECT DISTINCT doc_id FROM {parquet_glob(chunks)}").fetchall()}
    ran = int(rec["batches_run"])
    planted = [p for p in man["planted"] if p["batch"] < ran]
    for p in planted:
        if p["kind"] == "exact" and p["id"] in ids:
            problems.append(f"rag: planted exact re-send {p['id']} reached the store")
    dropped = sum(1 for p in planted if p["id"] not in ids)
    same_as_before("rag_live", seed, "recall", {
        str(i): r for i, r in enumerate(rec["recall"])}, problems)
    idx = {k: os.path.join(work, "index", k) for k in ("exact", "near")}
    stored = tree_bytes(chunks) + committed_bytes(os.path.join(store, "index")) + \
        sum(committed_bytes(p) for p in idx.values())
    _, vsegs = committed_segments(os.path.join(store, "index"))
    _, hsegs = committed_segments(idx["exact"])
    _, ssegs = committed_segments(idx["near"])
    return {
        "dup_drop_ratio": dropped / max(1, len(planted)),
        "planted": len(planted),
        "stored_bytes_per_doc": stored / n_rows,  # per stored chunk
        "index.hash_segments": len(hsegs),
        "index.sig_segments": len(ssegs),
        "index.store_segments": len(vsegs),
        "chunks": n_rows,
        "chunk_keys": n_keys,
    }


def check_rebuild(man, rec, work, seed, problems):
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check  # the repository's oracle normalization (tools/check.py)
    con = duck()
    docs = man["batches"][0]["path"]
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    packed = os.path.join(work, "packed")
    runs = sorted(d for d in os.listdir(packed) if d.startswith("rebuild-"))
    cols5 = "doc_id, n_tokens, bucket, pack, pack_pos"
    got = con.execute(f"SELECT {cols5} FROM {parquet_glob(os.path.join(packed, runs[-1]))}")
    gcols = [d[0] for d in got.description]
    grows = got.fetchall()
    with open(os.path.join(work, "oracle.sql")) as fh:
        exp = con.execute(fh.read())
    ecols = [d[0] for d in exp.description]
    erows = exp.fetchall()
    if check.norm(grows, gcols) != check.norm(erows, ecols):
        problems.append(f"rebuild: output differs from the DuckDB oracle "
                        f"(got {len(grows)} rows, oracle {len(erows)})")
    digests = {d: digest_rows(con, os.path.join(packed, d), cols5 + ", md5(text)")
               for d in runs + ["warmup"]}
    if len(set(digests.values())) != 1:
        problems.append("rebuild: rebuilds of one corpus produced different outputs")
    same_as_before("corpus_rebuild", seed, "packed_digest",
                   {"rebuild": digests[runs[-1]]}, problems)
    out_ids = {r[0] for r in grows}

    def sampled(i):  # Sampling.hashSample(rate 0.6, salt "ptf")
        return int(hashlib.md5(f"ptf{i}".encode()).hexdigest()[:8], 16) < 2576980377
    # a planted duplicate is judged where the dedup stages decide it: its
    # original made it to the output and the duplicate's own id is sampled
    eligible = [p for p in man["planted"] if p["of"] in out_ids and sampled(p["id"])]
    dropped = sum(1 for p in eligible if p["id"] not in out_ids)
    return {
        "dup_drop_ratio": dropped / max(1, len(eligible)),
        "planted": len(eligible),
        "stored_bytes_per_doc": tree_bytes(os.path.join(packed, runs[-1]))
        / man["batches"][0]["docs"],
        "oracle_rows": len(erows),
        "index.hash_segments": 0,
        "index.sig_segments": 0,
        "index.store_segments": 0,
    }


CHECKS = {"corpus_refresh": check_refresh, "rag_live": check_rag,
          "corpus_rebuild": check_rebuild}


# ------------------------------------------------------------------ metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile_with_tail(xs, p, tail=10):
    """The p-th percentile if at least `tail` samples lie above it, else
    the highest percentile that has them (None when there are fewer
    than tail + 1 samples)."""
    s = sorted(xs)
    n = len(s)
    for q in range(p, 49, -1):
        i = min(n - 1, int(q / 100 * n))
        if n - 1 - i >= tail:
            return q, s[i]
    return None


def load_layers():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return b["end_to_end"], b["per_layer"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("src/main/scala/graft", "BENCHMARK.json", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"run from the root of a graft checkout: {need} is missing")
    if not os.path.isdir(SPARK_JARS):
        die(f"Spark jars not found at {SPARK_JARS}")
    e2e_spec, layer_spec = load_layers()

    digest, build_s = build()
    load0, steal0 = loadavg(), cpu_steal()
    t_start = time.time()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "in")
    os.makedirs(inp)
    t0 = time.time()
    man = gen.generate(a.workload, a.seed, inp, PARAMS[a.workload])
    gen_s = time.time() - t0

    record = os.path.join(work, "record.json")
    rec = run_jvm(a.workload, inp, work, a.seconds, a.trace, record)
    problems = []
    try:
        extra = CHECKS[a.workload](man, rec, work, a.seed, problems)
    except Exception as e:  # a check that cannot run is a failed check
        problems.append(f"output check failed to run: {e!r}")
        extra = {}
    load1, steal1 = loadavg(), cpu_steal()

    ops = rec["op_s"]
    attempted = len(ops) + len(rec.get("retrieve_ms", []))
    failed = 1 if problems else 0
    setup_s = gen_s + rec["setup_jvm_s"]
    e2e = {
        "setup_s": setup_s,
        "ok_ratio": (attempted - failed) / attempted,
        "batch_s_p50": median(ops),
        "docs_per_s": rec["docs"] / rec["write_wall_s"],
        # 0 only when the output check could not run (correct is false)
        "dup_drop_ratio": extra.get("dup_drop_ratio", 0.0),
        "stored_bytes_per_doc": extra.get("stored_bytes_per_doc", 0.0),
    }
    # the workload's own names for what it measured
    named = {"corpus_refresh": {"refresh_s_p50": ("batch_s_p50", "s"),
                                "refresh_docs_per_s": ("docs_per_s", "docs/s"),
                                "refresh_dup_drop_ratio": ("dup_drop_ratio", "ratio")},
             "rag_live": {"ingest_s_p50": ("batch_s_p50", "s"),
                          "ingest_docs_per_s": ("docs_per_s", "docs/s")},
             "corpus_rebuild": {"rebuild_s": ("batch_s_p50", "s"),
                                "rebuild_docs_per_s": ("docs_per_s", "docs/s")}}[a.workload]
    lines = {k: (e2e[src], unit) for k, (src, unit) in named.items()}
    if a.workload == "corpus_refresh":
        lines["index_bytes_per_doc"] = (extra.get("index_bytes_per_doc"), "B/doc")
    if a.workload == "rag_live":
        rms = rec["retrieve_ms"]
        lines["retrieve_ms_p50"] = (median(rms), "ms")
        pt = percentile_with_tail(rms, 90)
        lines["retrieve_ms_p%d" % pt[0] if pt else "retrieve_ms_max"] = \
            (pt[1] if pt else max(rms), "ms")
        lines["retrieve_recall_at_k"] = (statistics.mean(rec["recall"]), "ratio")
        lines["retrieve_samples"] = (len(rms), "count")
    lines["error_rate"] = (failed / attempted, "ratio")

    layer = {}
    if a.trace:
        for name, v in rec.items():
            if name.startswith("layer."):
                layer[name[len("layer."):]] = v
        layer["index.hash_segments"] = extra.get("index.hash_segments", 0)
        layer["index.sig_segments"] = extra.get("index.sig_segments", 0)
        layer["index.store_segments"] = extra.get("index.store_segments", 0)
        layer["index.bytes_written"] = rec["index_bytes_written_per_op"]
        layer["ingest.embed_ratio"] = (rec["embed_calls"] / rec["chunks_offered"]
                                       if rec.get("chunks_offered") else 0.0)
        layer["streaming.add_batch_ms"] = rec["stream_add_batch_ms"]
        layer["streaming.query_planning_ms"] = rec["stream_query_planning_ms"]
        layer["streaming.wal_commit_ms"] = rec["stream_wal_commit_ms"]
        layer["spark.storage_mb_end"] = rec["storage_mb_end"]
        layer["trace.job_attribution"] = rec["trace_jobs_attributed"] / max(1, rec["trace_jobs"])
        layer["trace.span_coverage"] = rec["trace_span_s"] / rec["timed_wall_s"]

    env = {
        "commit": git_commit(), "source_digest": digest, "nproc": os.cpu_count(),
        "loadavg_before": load0, "loadavg_after": load1,
        "steal_ticks": steal1 - steal0, "spark": rec.get("spark_version"),
        "jdk": java_version(), "build_s": build_s, "run_wall_s": time.time() - t_start,
    }
    full = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "params": man["params"], "env": env,
            "problems": problems, "end_to_end": e2e,
            "named": {k: v for k, (v, _) in lines.items()}, "layer": layer,
            "check": extra, "record": rec}
    res_dir = os.path.join(BUILD, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{tag}.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    if a.trace:  # tracing overhead against the untraced run of this seed
        untraced = os.path.join(res_dir, f"{a.workload}-s{a.seed}-t0.json")
        if os.path.exists(untraced):
            base = json.load(open(untraced))["end_to_end"]
            for k in ("batch_s_p50", "docs_per_s"):
                print(f"trace-overhead {k} {e2e[k] - base[k]:+.4f}")
    shutil.rmtree(work, ignore_errors=True)

    print(f"env commit={env['commit'] or 'n/a'} nproc={env['nproc']} "
          f"load={load0[0]:.2f}->{load1[0]:.2f} steal_ticks={env['steal_ticks']} "
          f"spark={env['spark']} jdk='{env['jdk']}'")
    print(f"params {json.dumps(man['params'])} ops={len(ops)}")
    for p in problems:
        print(f"CHECK FAILED: {p}")
    for k, (v, unit) in lines.items():
        print(f"metric {k} {v} {unit}")
    for k, v in layer.items():
        print(f"layer {k} {v}")
    spec = e2e_spec if a.trace == 0 else layer_spec
    vals = e2e if a.trace == 0 else layer
    metrics = {m["name"]: {"value": vals.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec}
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
